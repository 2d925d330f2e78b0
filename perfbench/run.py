"""Benchmark entry point.

    python3 perfbench/run.py --workload short_mix --seed 1 --seconds 15 --trace 0

Run from the root of an engine checkout. Builds the fixed input tables
once per checkout (under ``perfbench/.work/``), writes the seeded
medallion landing, then starts ``worker.py`` with ``SPARK_GRAFT_CPUS``
set to the usable CPU count and the driver memory sized to the host.
Prints the per-pass record and every metric by name with its unit,
then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Ops that raise or fail their output check are counted in ``failed``.
Exits non-zero without a result when the engine is missing, or the
worker crashes or overruns its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import telemetry  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 170.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB: the box is
    shared, and the JVM's resident set is not steady under a large heap."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def ensure_tables(sf: float) -> str:
    """Build the fixed tables once per checkout; later runs reuse them."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        datagen.make_tables(tmp, sf)
        os.replace(tmp, out)
    return out


def make_landing(run_dir: str, rows: int, seed: int) -> str:
    path = os.path.join(run_dir, "landing", "airports.json")
    data = datagen.make_landing(path, rows, seed)
    with open(path + ".expected.json", "w") as f:
        json.dump({"rows": rows, "served": datagen.expected_served(data)}, f)
    return path


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs for the benchmark's own tests; runs that report
    # numbers use the workload's sizes
    p.add_argument("--sf", type=float, default=None, help=argparse.SUPPRESS)
    p.add_argument("--landing-rows", type=int, default=None, help=argparse.SUPPRESS)
    args = p.parse_args()
    t0 = time.time()

    if not os.path.isfile(os.path.join(ROOT, "gcp_etl_spark", "session.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "verify_local.py")):
        print("perfbench: no engine checkout (gcp_etl_spark/, tools/) beside "
              "perfbench/; run from the root of one", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = workloads.WORKLOADS[args.workload]

    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = ensure_tables(args.sf or wl.sf) if wl.sf else ""
    rows = args.landing_rows or wl.landing_rows
    landing = make_landing(run_dir, rows, args.seed) if rows else ""

    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update({
        # temporary files of Python and of every JVM stay in the run
        # directory; no JVM perf-data file under the system temp dir
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tools")]),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", run_dir, "--data", data,
           "--landing", landing, "--out", out]
    log_path = os.path.join(run_dir, "worker.log")
    # a terminated benchmark still stops the worker and what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # a worker that ran to the end has already stopped its JVM
            # and Python workers; otherwise stop them here
            telemetry.stop_all([proc.pid] + telemetry.descendants(proc.pid))
            proc.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)

    for i, ps in enumerate(res["passes"]):
        print(f"pass {i} {ps['kind']}{' traced' if ps['traced'] else ''}: "
              f"ops {len(ps['ops'])} wall_s {ps['wall_s']:.3f} jit_s {ps['jit_s']:.3f} "
              f"cpu_s {ps['cpu_s']:.2f} host_busy {ps['host_busy']} "
              f"steal {ps['steal']} load1 {ps['load1']}")
    print(f"workload {args.workload} seed {args.seed} cpus {res['cpus']} "
          f"driver_memory {res['driver_memory']} warmup_passes {res['warmup_passes']} "
          f"warmup_capped {res['warmup_capped']}")
    for e in res["errors"]:
        print(f"error: {e}")
    print(f"failed_op_frac {res['failed'] / res['attempted']} ratio")
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res
        p90 = res["op_p90_s"]
        print(f"op_p90_s {p90 if p90 is not None else 'n/a'} s "
              f"({res['samples']} samples; reported with >= 10 beyond p90)")
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in names}
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
