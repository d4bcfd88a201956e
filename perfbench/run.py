"""Benchmark runner: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload oltp --seed 1 --seconds 20 --trace 0

Runs against the unmodified ``entangledb_spark`` package found next to
``perfbench/``. Every run gets its own directory under ``.perfbench/`` in the
checkout, holding the catalog, the generated inputs, ``TMPDIR`` and Spark's
local dirs, and removes it at exit. The Spark session is sized from the box
(all cores; a pinned driver heap of an eighth of RAM, at most 1 GiB).

Lines before the last describe the run (machine context, parallelism, tails
with their percentile and sample count, per-kind latencies, workload-specific
figures). The last line is the result: ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, spans  # noqa: E402

WORKLOADS = ("oltp", "ingest_refresh")


class Ctx:
    """What a workload sees: its seed and window, the Spark session, and
    ``op`` to run, time, check and log one operation."""

    def __init__(self, args, rundir: str, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.rundir = rundir
        self.tracer = tracer
        self.log = harness.OpLog()
        self.spark = None
        self.db_dir = os.path.join(rundir, "db")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.user_bytes = 0
        self.report: dict = {}
        self._in_window = False
        self.db_bytes0 = 0

    # ------------------------------------------------------------ window

    def start_window(self) -> None:
        self.db_bytes0 = dir_bytes(self.db_dir)
        self.log.window_start = time.perf_counter()
        self._in_window = True

    def window_over(self) -> bool:
        return time.perf_counter() - self.log.window_start >= self.seconds

    def end_window(self) -> None:
        self.log.window_end = time.perf_counter()
        self._in_window = False

    # ------------------------------------------------------------ operations

    def op(self, kind: str, cls: str, fn, check=None, rows: int = 0, row_bytes: int = 0):
        """Run ``fn`` as one operation; return its result, or None when it
        raised or ``check(result)`` is false (both count as failed)."""
        traced = self._in_window and self.tracer is not None
        if traced:
            self.tracer.begin_op(len(self.log.ops), kind)
        t0 = time.perf_counter()
        try:
            res, err = fn(), None
        except Exception as e:  # refused or failed statement
            res, err = None, e
        latency = time.perf_counter() - t0
        if traced:
            self.tracer.end_op()
        ok = err is None and (check is None or bool(check(res)))
        self.attempted += 1
        if not ok:
            self.failed += 1
            why = f"{type(err).__name__}: {str(err)[:200]}" if err else "wrong result"
            if len(self.failures) < 10:
                self.failures.append(f"{kind}: {why}")
        if self._in_window:
            self.log.ops.append(harness.Op(kind, cls, latency, rows if ok else 0))
            if ok:
                self.user_bytes += row_bytes
        return res if ok else None

    def check(self, what: str, problems: list[str]) -> None:
        """A correctness check outside the timed window."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(f"{what}: {p}" for p in problems[:5])


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def storage_report(ctx) -> dict:
    """Write amplification, files per table read, and manifest size, from
    the catalog directory the run wrote."""
    from entangledb_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(ctx.spark, ctx.db_dir)
    manifest = cat.manifest()
    files = []
    for meta in manifest.get("tables", {}).values():
        rels = [meta.get("data")] + [
            p for d in meta.get("deltas", []) for p in (d.get("upserts"), d.get("deletes"))
        ]
        n = 0
        for rel in filter(None, rels):
            for _, _, fs in os.walk(os.path.join(cat.base, rel)):
                n += sum(f.endswith(".parquet") for f in fs)
        if not meta.get("external"):
            files.append(n)
    added = dir_bytes(ctx.db_dir) - ctx.db_bytes0
    return {
        "storage.write_amp": added / ctx.user_bytes if ctx.user_bytes else 0.0,
        "storage.files_per_table": sum(files) / len(files) if files else 0.0,
        "storage.manifest_bytes": float(
            os.path.getsize(cat._manifest_path(cat.current_version()))
        ),
    }


def isolate(rundir: str) -> None:
    """Point every temporary and local directory the package, Spark and the
    JVM use into the run directory, and size the session from the box."""
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cpu_count())
    mem = harness.driver_memory()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file for either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{mem} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}") + " pyspark-shell"
    )
    os.chdir(rundir)  # spark-warehouse and any metastore files land here


def run(args, rundir: str, units: dict) -> tuple[dict, list[str]]:
    lines = []
    machine0 = harness.machine_context()
    tracer = spans.Tracer() if args.trace else None
    ctx = Ctx(args, rundir, tracer)
    workload = importlib.import_module(f"perfbench.{args.workload}")

    t_setup = time.perf_counter()
    ctx.spark = harness.start_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t_setup
    try:
        pid = harness.jvm_pid(ctx.spark)
        sc = ctx.spark.sparkContext
        if tracer is not None:
            spans.install(tracer, ctx.spark)
        workload.run(ctx)
        setup_s = ctx.log.window_start - t_setup
        e2e, detail = ctx.log.end_to_end()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = harness.peak_rss_mb(pid)
        lines.append(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "spark": {"master": sc.master, "defaultParallelism": sc.defaultParallelism,
                      "cores": harness.cpu_count(),
                      "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                      **harness.jvm_gc(ctx.spark)},
            "machine_before": machine0, "machine_after": harness.machine_context(),
        }))
        lines.append(json.dumps({
            "detail": detail, "session_start_s": round(session_start_s, 3),
            "workload_report": ctx.report, "failures": ctx.failures,
            "failed_ratio": ctx.failed / max(1, ctx.attempted),
        }))
        if tracer is None:
            metrics = {k: e2e[k] for k in units}
        else:
            spans.spark_accounting(ctx.spark, tracer.ops)
            layer, ldetail = spans.layer_report(tracer, harness.cpu_count())
            layer["session.start_s"] = session_start_s
            layer.update(storage_report(ctx))
            layer.update(ctx.report.get("layer", {}))
            layer["trace.overhead_ratio"] = tracer.overhead_ratio(
                sum(ctx.log.latencies()))
            lines.append(json.dumps({"trace_detail": ldetail, "traced_run_end_to_end": e2e}))
            metrics = {k: layer.get(k, 0.0) for k in units}
    finally:
        harness.stop_spark(ctx.spark)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def load_spec(path: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(path) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "entangledb_spark", "__init__.py")):
        print(f"perfbench: no entangledb_spark package in {ROOT}", file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print(f"perfbench: no BENCHMARK.json in {ROOT}", file=sys.stderr)
        return 2
    units = load_spec(spec_path)[args.trace]
    # SIGTERM unwinds like an error, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rundir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(rundir, exist_ok=True)
    try:
        isolate(rundir)
        result, lines = run(args, rundir, units)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass  # another run's directory is still there
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
