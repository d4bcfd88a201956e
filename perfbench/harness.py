"""Shared benchmark plumbing: the Spark session sized from the box, the
operation log every workload fills, and the statistics printed from it."""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import time
from dataclasses import dataclass, field


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def meminfo() -> dict[str, int]:
    """/proc/meminfo in KiB (empty off Linux)."""
    out: dict[str, int] = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k.strip()] = int(v.split()[0])
    except (OSError, ValueError, IndexError):
        pass
    return out


def driver_memory() -> str:
    """A driver heap that leaves most of the box to the OS and neighbours:
    an eighth of physical RAM, at most 1 GiB (the workloads' tables are a
    few MB). The runner pins the heap at this size (-Xms = -Xmx): a heap
    the JVM may grow at will makes peak RSS depend on GC timing."""
    total_mib = meminfo().get("MemTotal", 8 << 20) // 1024
    return f"{max(512, min(1024, total_mib // 8))}m"


def cpu_probe() -> float:
    """Fixed pure-Python CPU work, timed: moves with machine speed and
    contention, never with the code under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def machine_context() -> dict:
    mem = meminfo()
    ctx = {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_probe_s": round(cpu_probe(), 4),
    }
    for k in ("MemAvailable", "Cached", "Dirty"):
        if k in mem:
            ctx[f"{k.lower()}_mb"] = mem[k] // 1024
    return ctx


def start_spark(app: str):
    """The package's own session factory, sized by the environment the
    runner sets (SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM)."""
    from entangledb_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | None) -> float:
    """Peak resident set of this Python process plus the JVM (VmHWM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def jvm_gc(spark) -> dict:
    """Collections and seconds the driver JVM spent in GC so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    count = sum(beans.get(i).getCollectionCount() for i in range(beans.size()))
    ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return {"gc_count": count, "gc_s": ms / 1000.0}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):
        pass  # the JVM is already gone; the wait below still reaps it
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the nearest-rank p90, or a
    higher percentile when at least ten samples lie beyond that one. A run
    holds 10-40 operations, where "ten samples beyond" alone would fall at
    or below the median."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    rank = max(math.ceil(0.9 * n), n - 10)  # 1-based
    return s[rank - 1], round(100.0 * rank / n, 1), n - rank


@dataclass
class Op:
    kind: str
    cls: str  # "read" or "write"
    latency: float
    rows_written: int = 0


@dataclass
class OpLog:
    """Every timed operation of one run, in order."""

    ops: list[Op] = field(default_factory=list)
    window_start: float = 0.0
    window_end: float = 0.0

    def latencies(self, cls: str | None = None, kind: str | None = None) -> list[float]:
        return [
            o.latency
            for o in self.ops
            if (cls is None or o.cls == cls) and (kind is None or o.kind == kind)
        ]

    def end_to_end(self) -> tuple[dict, dict]:
        """(metrics, detail): the BENCHMARK.json end-to-end metrics computed
        from the log (setup_s and peak_rss_mb are added by the runner) and
        the tails with their percentile and sample count."""
        window = self.window_end - self.window_start
        metrics = {
            "ops_per_s": len(self.ops) / window,
            "op_p50_s": median(self.latencies()),
            "read_p50_s": median(self.latencies("read")),
            "write_p50_s": median(self.latencies("write")),
            "ingest_rows_per_s": sum(o.rows_written for o in self.ops) / window,
        }
        detail = {"window_s": round(window, 3)}
        for name, cls in (("op", None), ("read", "read"), ("write", "write")):
            v, pct, beyond = tail(self.latencies(cls))
            metrics[f"{name}_tail_s"] = v
            detail[f"{name}_tail"] = {"p": pct, "beyond": beyond, "n": len(self.latencies(cls))}
        kinds = sorted({o.kind for o in self.ops})
        detail["by_kind_p50_s"] = {
            k: round(median(self.latencies(kind=k)), 4) for k in kinds
        }
        detail["by_kind_n"] = {k: len(self.latencies(kind=k)) for k in kinds}
        detail["seq"] = [(o.kind, round(o.latency, 3)) for o in self.ops]
        return metrics, detail
