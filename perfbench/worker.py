"""One measured run: a single process, one closed-loop client issuing
ops serially through the engine's public entry points.

Started by ``run.py`` with the engine checkout on ``sys.path``. Phases:

1. set-up: from the call of ``session.get_spark`` (the interpreter has
   started and imported the engine) until the session is built and its
   first job is done (``setup_s``);
2. check pass: every distinct op once, output checked (DuckDB oracle
   for queries; seed-derived counts and rows for the pipeline);
3. warm-up passes until the driver JVM's JIT compile time per pass has
   fallen off (or the warm-up cap is reached);
4. measured passes (whole passes, until ``--seconds`` have been spent
   in timed ops), each op's output checked after its timed window; with
   ``--trace 1`` the passes alternate untraced and traced, so the
   tracing overhead is measured in the same JVM.

The JVM runs as the engine ships it (no JIT or GC flags).

Writes one JSON document (metrics, per-pass records) to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import telemetry  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Warm-up has ended once the JIT compile time (all compiler threads) of
# each of the last two passes has fallen to at most this share of the
# first warm-up pass's, or after WARMUP_CAP_PASSES passes; a pass's JIT
# time jumps by half or more from one pass to the next, so a single low
# pass does not end it. The JIT does not fall to zero within a run:
# after the first passes hardly any class is loaded, but C2 keeps
# compiling the engine's hot paths for minutes. The cap counts passes,
# not seconds, so a run slowed by host load still warms up as far as
# the JIT goes: a time cap would measure it less compiled, and the
# larger JIT residue would add to its CPU per op. WARMUP_CAP_S only
# guards the run budget; on a quiet 4-core host the 9 passes of
# short_mix take about 20 s.
JIT_FIRST_SHARE = 0.2
WARMUP_CAP_PASSES = 9
WARMUP_CAP_S = 28.0


def jit_settled(warm: list[dict]) -> bool:
    return len(warm) > 2 and all(
        p["jit_s"] <= JIT_FIRST_SHARE * warm[0]["jit_s"] for p in warm[-2:])


class QueryMix:
    """Ops are declared queries: build (``fn``), plan, ``noop`` write.

    Each op counts its output rows with ``DataFrame.observe`` during the
    ``noop`` write; the count is compared, after the op's timed window,
    with the row count of the query's DuckDB oracle."""

    def __init__(self, spark, wl, sf_dir, seed, tracer):
        from gcp_etl_spark.queries import load_all

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.specs = load_all()
        self.pass_ops = workloads.query_order(wl.queries, seed)
        self.rows: dict[str, int] = {}

    def op(self, name: str) -> None:
        from pyspark.sql import Observation, functions as F

        tr, self._obs = self.tracer, Observation()
        with tr.span("queries.build", "build"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        df = df.observe(self._obs, F.count(F.lit(1)).alias("rows"))
        with tr.span("plan", "plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec", "exec"):
            df.write.format("noop").mode("overwrite").save()

    def check_last(self, name: str) -> list[str]:
        """Every timed op: as many rows as the oracle-checked query."""
        got, want = self._obs.get["rows"], self.rows.get(name)
        return [] if got == want else [f"{name}: {got} rows, expected {want}"]

    def check(self, name: str) -> list[str]:
        """Check pass: the op's rows against its DuckDB oracle."""
        saved = list(sys.path)  # verify_local prepends its own repo path
        from verify_local import compare, duck_connection

        sys.path[:] = saved
        if not hasattr(self, "_con"):
            self._con = duck_connection(self.sf_dir)
        spec = self.specs[name]
        self.rows[name] = self._con.sql(
            f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
        return compare(name, spec.fn(self.spark, self.sf_dir), self._con, spec.oracle)

    def final_check(self) -> list[str]:
        return []


class Medallion:
    """One op is one ``pipeline.run_medallion`` over the seeded landing."""

    def __init__(self, spark, landing, tracer):
        import datagen

        self.spark, self.tracer, self.landing = spark, tracer, landing
        self.datagen = datagen
        self.workdir = os.path.join(os.path.dirname(landing), "work")
        with open(landing + ".expected.json") as f:
            exp = json.load(f)
        self.rows = exp["rows"]
        self.served = [tuple(tuple(kv) for kv in r) for r in exp["served"]]
        self.pass_ops = ["run_medallion"]
        self.landing_bytes = os.path.getsize(landing)

    def op(self, name: str) -> None:
        from gcp_etl_spark import pipeline

        with self.tracer.span("op", "exec"):
            self._last = pipeline.run_medallion(
                self.spark, self.landing, self.workdir, query=self.datagen.MEDALLION_SQL)

    def check_last(self, name: str) -> list[str]:
        r, n = self._last, self.datagen.SERVED_ROWS
        got = (r.landing_count, r.curated_count, r.served_count)
        return [] if got == (self.rows, n, n) else [
            f"counts {got}, expected {(self.rows, n, n)}"]

    def check(self, name: str) -> list[str]:
        self.op(name)
        return self.check_last(name) + self.final_check()

    def final_check(self) -> list[str]:
        """The served rows, read back once, against the seed's rows."""
        rows = self.spark.read.parquet(os.path.join(self.workdir, "serving")).collect()
        got = sorted((tuple(sorted(r.asDict().items())) for r in rows), key=repr)
        return [] if got == sorted(self.served, key=repr) else ["served rows differ from the seed's"]

    def bytes_written(self) -> int:
        total = 0
        for sub in ("processing", "curated", "serving"):
            for root, _, files in os.walk(os.path.join(self.workdir, sub)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


def op_p50(passes: list[dict]) -> float:
    """Median over passes of a pass's op latency (its timed op time over
    its ops): the median over single ops of a mix jumps between the
    latencies of whichever two queries straddle the middle."""
    return per_pass_median(passes, lambda p, k: sum(p["op_s"]) / k)


def per_pass_median(passes: list[dict], value) -> float:
    """Median over passes of ``value(pass, completed ops)``: a burst of
    host load that slows one or two passes moves it less than a mean."""
    return statistics.median(value(p, len(p["op_s"])) for p in passes if p["op_s"])


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, only when at least ten samples lie beyond it."""
    if len(values) * (1.0 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


class Run:
    def __init__(self, args, t_start):
        self.args, self.t_start = args, t_start
        self.wl = workloads.WORKLOADS[args.workload]
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.op_index = 0

    def _record(self, errs: list[str]) -> bool:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])
        return not errs

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        m, jvm, tr = self.mix, self.jvm, self.tracer
        tr.enabled = traced
        host0, cpu0 = telemetry.host_sample(), telemetry.tree_cpu(self.pid)
        jit0, gc0, t0 = jvm.jit_s(), jvm.gc_s(), time.perf_counter()
        lat, ops = [], []
        for name in m.pass_ops:
            tr.op = self.op_index
            ops.append(self.op_index)
            self.op_index += 1
            if kind == "check":
                try:
                    errs = m.check(name)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    errs = [traceback.format_exc(limit=5)]
                self._record(errs)
                continue
            t = time.perf_counter()
            try:
                m.op(name)
                dt = time.perf_counter() - t
                errs = m.check_last(name)
            except Exception:  # noqa: BLE001
                dt, errs = time.perf_counter() - t, [traceback.format_exc(limit=5)]
            if self._record(errs):
                lat.append(dt)
        wall = time.perf_counter() - t0
        cpu1 = telemetry.tree_cpu(self.pid)
        rec = {
            "kind": kind, "traced": traced, "ops": ops, "wall_s": wall,
            "op_s": lat, "jit_s": jvm.jit_s() - jit0, "gc_s": jvm.gc_s() - gc0,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "python_workers_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
            **telemetry.host_between(host0, telemetry.host_sample()),
        }
        self.passes.append(rec)
        print(f"pass {len(self.passes) - 1} {kind}{' traced' if traced else ''}: "
              f"wall {wall:.3f}s jit {rec['jit_s']:.3f}s busy {rec['host_busy']:.2f} "
              f"steal {rec['steal']:.3f} load1 {rec['load1']}", file=sys.stderr, flush=True)
        return rec

    def main(self) -> dict:
        a, wl = self.args, self.wl
        self.pid = os.getpid()
        work = os.path.abspath(a.work)
        self.tracer = tracing.Tracer()
        if a.trace:
            self.tracer.install()  # before load_all binds t / barrier by name
            self.tracer.enabled = True
        from gcp_etl_spark import session

        extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        if a.trace:
            extra.update(tracing.eventlog_conf(os.path.join(work, "eventlog")))
        # set-up is timed from here, so the interpreter start and imports
        # (start_s) are left out; SPARK_GRAFT_CPUS, set by run.py, sizes
        # the session
        start_s = time.time() - self.t_start
        host0, t0 = telemetry.host_sample(), time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=extra)
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        setup_host = telemetry.host_between(host0, telemetry.host_sample())
        session._quiet_benign_warnings(spark)
        self.tracer.attach(spark)
        self.jvm = telemetry.Jvm(spark)
        if wl.landing_rows:
            self.mix = Medallion(spark, a.landing, self.tracer)
        else:
            self.mix = QueryMix(spark, wl, a.data, a.seed, self.tracer)

        self.run_pass("check")
        t_warm = time.perf_counter()
        warm = [self.run_pass("warmup")]
        while not (jit_settled(warm) or len(warm) >= WARMUP_CAP_PASSES
                   or time.perf_counter() - t_warm >= WARMUP_CAP_S):
            warm.append(self.run_pass("warmup"))

        # a traced run alternates untraced and traced passes, two of each
        # at least, over twice the measuring time
        measured_s, n = 0.0, 0
        while True:
            rec = self.run_pass("measure", traced=bool(a.trace and n % 2))
            measured_s += sum(rec["op_s"])
            n += 1
            if a.trace and (n < 4 or n % 2):
                continue
            if measured_s >= a.seconds * (1 + a.trace):
                break
        try:
            final = self.mix.final_check()
        except Exception:  # noqa: BLE001
            final = [traceback.format_exc(limit=5)]
        if final:
            self.failed += 1
            self.errors.extend(final)

        measured = [p for p in self.passes if p["kind"] == "measure"]
        out = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "attempted": self.attempted, "failed": self.failed,
            "errors": self.errors[:10], "passes": self.passes,
            "warmup_passes": len(warm),
            "warmup_capped": not jit_settled(warm),
            "setup_s": setup_s, "setup_host": setup_host,
            "start_s": start_s,
        }
        kids = telemetry.descendants(self.pid)  # the JVM and Python workers
        if a.trace:
            out.update(self._traced_metrics(spark, measured, work))
        else:
            out.update(self._end_to_end(measured))
            spark.stop()
        # the gateway JVM outlives the session; end it and its workers
        telemetry.stop_all(kids)
        print(f"stopped at {time.time() - self.t_start:.2f}s", file=sys.stderr)
        return out

    def _end_to_end(self, measured: list[dict]) -> dict:
        lat = [x for p in measured for x in p["op_s"]]
        n = len(lat)
        return {
            "samples": n,
            "op_p50_s": op_p50(measured),
            "op_p90_s": percentile(lat, 0.90),
            "ops_per_s": per_pass_median(measured, lambda p, k: k / p["wall_s"]),
            "cpu_s_per_op": per_pass_median(measured, lambda p, k: p["cpu_s"] / k),
        }

    def _traced_metrics(self, spark, measured: list[dict], work: str) -> dict:
        tr = self.tracer
        traced = [p for p in measured if p["traced"]]
        untraced = [p for p in measured if not p["traced"]]
        ops = {op for p in traced for op in p["ops"]}
        n = max(len([x for p in traced for x in p["op_s"]]), 1)
        rss = telemetry.peak_rss_mb(self.jvm.pid)
        spark.stop()  # drains the listener bus and closes the event log
        events = tracing.read_eventlog(os.path.join(work, "eventlog"))
        layer = tr.layer_metrics(ops, events)
        if isinstance(self.mix, Medallion):
            layer["io.bytes_written_per_landing_byte"] = (
                self.mix.bytes_written() / self.mix.landing_bytes)
        else:
            layer["io.bytes_written_per_landing_byte"] = 0.0
        layer.update({
            "jvm.gc_s_per_op": sum(p["gc_s"] for p in traced) / n,
            "jvm.jit_s_per_pass": statistics.mean(p["jit_s"] for p in measured),
            "jvm.peak_rss_mb": rss,
            "python_workers.cpu_s_per_op":
                sum(p["python_workers_cpu_s"] for p in traced) / n,
            "warmup.passes": float(sum(p["kind"] == "warmup" for p in self.passes)),
        })
        layer.update(tracing.overhead(op_p50(traced), op_p50(untraced)))
        tr.dump(os.path.join(work, "spans.json"))
        return {"layers": layer}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--data", default="")
    p.add_argument("--landing", default="")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    t_start = telemetry.process_start_epoch()
    result = Run(args, t_start).main()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
