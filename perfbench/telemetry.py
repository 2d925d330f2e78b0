"""Readings from ``/proc`` (process CPU, host load) and the JVM's
MXBeans (JIT, GC), and stopping the processes a run started.

Nothing here changes a measured number; the host readings are recorded
beside each pass so a noisy run explains itself.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Pids of every live process descended from ``root``."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                children.setdefault(int(_stat_fields(pid)[1]), []).append(int(pid))
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds (user + system, own + reaped children) of ``root``
    and its descendants: this interpreter, the driver JVM with the
    short-lived processes it spawns (Hadoop's local file system runs
    ``chmod`` per file), and the Python workers. ``python_workers`` is
    the ``pyspark.daemon`` processes, which reap the workers they fork;
    they run in a process group of their own."""
    out = {"total": 0.0, "python_workers": 0.0}
    for pid in [root] + descendants(root):
        try:
            cpu = sum(int(x) for x in _stat_fields(pid)[11:15]) / _TICK
        except OSError:
            continue
        out["total"] += cpu
        if "pyspark.daemon" in _cmdline(str(pid)):
            out["python_workers"] += cpu
    return out


def stop_all(pids: list[int]) -> None:
    """Terminate ``pids``, kill what is left after 10 s, and wait until
    each has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        for p in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        t = time.time()
        while time.time() - t < wait_s:
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def host_sample() -> dict[str, float]:
    """Cumulative host CPU ticks and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    idle = cpu[3] + cpu[4]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"total": float(sum(cpu[:8])), "idle": float(idle),
            "steal": float(steal), "load1": load1}


def host_between(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """Host busy and steal shares between two ``host_sample`` calls."""
    total = max(b["total"] - a["total"], 1.0)
    return {
        "host_busy": round(1.0 - (b["idle"] - a["idle"]) / total, 4),
        "steal": round((b["steal"] - a["steal"]) / total, 4),
        "load1": b["load1"],
    }


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Jvm:
    """JIT and GC totals of the driver JVM, through its MXBeans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(mf.getRuntimeMXBean().getPid())

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(max(g.getCollectionTime(), 0) for g in self._gcs) / 1000.0
