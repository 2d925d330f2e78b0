"""Traced run: spans around each layer's public functions.

The wrappers live here, in the benchmark's own files; the engine's
modules are only patched in memory. They are installed before the query
registry is loaded, because the query modules bind ``t`` and
``barrier`` by name at import time; references already bound in loaded
engine modules are swapped too.

Per phase of every op the tracer sets a Spark job group
(``pb<op>.<phase>``), so jobs are counted per op and phase with
``statusTracker().getJobIdsForGroup``; task time, shuffle and spill come
from the Spark event log (uncompressed, not rolled), read after the
session stops. Spans carry a parent link and are written out when the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time

_MB = 1024.0 * 1024.0


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.jobs: dict[str, int] = {}  # job group -> job count
        self.enabled = False
        self.sc = None
        self.op: int | None = None
        self._stack: list[dict] = []
        self._groups: list[str] = []

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span; with ``group``, also run its Spark jobs in
        job group ``pb<op>.<group>`` and count them when it ends."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "name": name, "op": self.op,
             "parent": parent, "start": time.perf_counter()}
        self.spans.append(s)
        self._stack.append(s)
        gid = f"pb{self.op}.{group}" if group else None
        if gid:
            self._groups.append(gid)
            self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if gid:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                n = len(self.sc.statusTracker().getJobIdsForGroup(gid))
                self.jobs[gid] = self.jobs.get(gid, 0) + n

    def _wrap(self, fn, name: str, group: str | None = None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the layers' public functions, in their home modules and
        wherever an already-imported engine module bound them by name."""
        import gcp_etl_spark.io as io
        import gcp_etl_spark.operators.barrier as barrier
        import gcp_etl_spark.pipeline as pipeline
        import gcp_etl_spark.session as session
        import gcp_etl_spark.tables as tables

        targets = [
            (session, "get_spark", "session.get_spark", None),
            (tables, "t", "tables.t", "tables"),
            (barrier, "barrier", "operators.barrier", None),
            (io, "read_json", "io.read_json", None),
            (io, "write_parquet", "io.write_parquet", None),
            (io, "serving_sink", "io.serving_sink", None),
            (pipeline, "run_medallion", "pipeline.run_medallion", None),
        ]
        for module, attr, name, group in targets:
            original = getattr(module, attr)
            wrapped = self._wrap(original, name, group)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "") or "").startswith("gcp_etl_spark") \
                        and getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapped)

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # -- per-layer metrics -------------------------------------------
    def _total(self, name: str, ops: set[int]) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] in ops)

    def _count(self, name: str, ops: set[int]) -> int:
        return sum(1 for s in self.spans if s["name"] == name and s["op"] in ops)

    def _child_time(self, parent_name: str, child_name: str, ops: set[int]) -> float:
        parents = {s["id"] for s in self.spans
                   if s["name"] == parent_name and s["op"] in ops}
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == child_name and s["parent"] in parents)

    def _jobs(self, phase: str, ops: set[int]) -> int:
        return sum(self.jobs.get(f"pb{op}.{phase}", 0) for op in ops)

    def layer_metrics(self, ops: set[int], events: dict) -> dict[str, float]:
        """Per-op layer numbers over the traced ops ``ops``; ``events``
        is ``read_eventlog`` output."""
        n = max(len(ops), 1)
        get_spark = [s["end"] - s["start"] for s in self.spans
                     if s["name"] == "session.get_spark"]
        exec_groups = {f"pb{op}.exec" for op in ops}
        ex = events_for(events, exec_groups)
        wall = ex["job_wall_s"]
        # medallion io spans nest: serving_sink calls write_parquet
        return {
            "session.get_spark_s": get_spark[0] if get_spark else 0.0,
            "tables.t_calls_per_op": self._count("tables.t", ops) / n,
            "tables.t_s_per_op": self._total("tables.t", ops) / n,
            "tables.t_jobs_per_op": self._jobs("tables", ops) / n,
            "queries.build_s_per_op":
                (self._total("queries.build", ops)
                 - self._child_time("queries.build", "tables.t", ops)) / n,
            "queries.build_jobs_per_op": self._jobs("build", ops) / n,
            "operators.barrier_calls_per_op": self._count("operators.barrier", ops) / n,
            "plan.s_per_op": self._total("plan", ops) / n,
            "execute.s_per_op": wall / n,
            "execute.jobs_per_op": self._jobs("exec", ops) / n,
            "execute.tasks_per_op": ex["tasks"] / n,
            "execute.task_s_per_wall_s": ex["task_s"] / wall if wall else 0.0,
            "execute.shuffle_write_mb_per_op": ex["shuffle_write_b"] / _MB / n,
            "execute.spill_mb_per_op": ex["spill_b"] / _MB / n,
            "io.read_json_s_per_op": self._total("io.read_json", ops) / n,
            "io.write_parquet_s_per_op": self._total("io.write_parquet", ops) / n,
            "io.serving_sink_s_per_op": self._total("io.serving_sink", ops) / n,
            "pipeline.run_medallion_self_s_per_op":
                (self._total("pipeline.run_medallion", ops)
                 - sum(self._child_time("pipeline.run_medallion", c, ops)
                       for c in ("io.read_json", "io.write_parquet",
                                 "io.serving_sink"))) / n,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs}, f)


def read_eventlog(log_dir: str) -> dict:
    """Jobs (group, submit/complete ms, stages) and per-stage task sums
    from the single uncompressed event-log file in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev.get("Submission Time", 0),
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "shuffle_write_b": 0, "spill_b": 0})
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def events_for(events: dict, groups: set[str]) -> dict[str, float]:
    """Task sums over the jobs of ``groups``, plus the wall time during
    which at least one of those jobs ran (union of job intervals)."""
    out = {"tasks": 0, "task_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
           "job_wall_s": 0.0}
    seen: set[int] = set()
    intervals = []
    for job in events["jobs"].values():
        if job["group"] not in groups:
            continue
        if job["end"] is not None:
            intervals.append((job["start"], job["end"]))
        for sid in job["stages"]:
            st = events["stages"].get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out["tasks"] += st["tasks"]
            out["task_s"] += st["run_ms"] / 1000.0
            out["shuffle_write_b"] += st["shuffle_write_b"]
            out["spill_b"] += st["spill_b"]
    end = 0
    for a, b in sorted(intervals):
        out["job_wall_s"] += max(b - max(a, end), 0) / 1000.0
        end = max(end, b)
    return out


def overhead(t: float, u: float) -> dict[str, float]:
    """Traced against untraced op latency, from the same JVM."""
    return {"trace.op_p50_s": t, "trace.untraced_op_p50_s": u,
            "trace.overhead_frac": t / u - 1.0 if u else 0.0}
