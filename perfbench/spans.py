"""In-memory span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``install`` replaces the
public functions each layer exposes with timing wrappers, for that run
only, and never edits the package. A span is ``[name, start, end, parent,
op, label]``; spans of one operation share ``op``. A span opened on a thread
with no open span of its own (the in-process server thread) takes the
innermost open span of the operation's client thread as its parent, so the
server's work nests under the operation.

Every operation of the timed window is traced. The wrappers' own cost is
calibrated on a no-op function and reported as ``trace.overhead_ratio``:
spans recorded x cost per span / summed operation latency. The traced run
also prints its end-to-end figures, so its difference to an untraced run of
the same seed can be read off directly.

Per operation the tracer also records Spark's own accounting, read back at
the end of the run from the driver's status store (jobs, stages, tasks,
executor run time, shuffle and spill bytes), attributed to the operation
whose wall-clock interval holds the job's submission; and Catalyst's phase
times, from the query-planning tracker of the DataFrames the operation
built, planned again after the operation so the timed interval is not
disturbed.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict

# span-name prefix -> layer
LAYERS = {
    "plans": "plans",
    "operators": "operators",
    "engine": "engine",
    "catalog": "sources",
    "constraints": "sources",
    "py4j": "jvm",
    "op": "client",
}

# module-level caches whose growth is counted as cache misses
CACHES = (
    ("entangledb_spark.operators.dialect", "_PLAN_CACHE"),
    ("entangledb_spark.operators.similarity", "_PROBE_PLAN_CACHE"),
    ("entangledb_spark.operators.similarity", "_LSH_INDEX_CACHE"),
    ("entangledb_spark.operators.similarity", "_IVF_INDEX_CACHE"),
    ("entangledb_spark.operators.similarity", "_IVFPQ_INDEX_CACHE"),
    ("entangledb_spark.sources.parquet_io", "_NS_COLS_CACHE"),
    ("entangledb_spark.sources.parquet_io", "_SCHEMA_CACHE"),
)

MAX_PLANNED_PER_OP = 4


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.active = False
        self._local = threading.local()
        self._op_stack: list[int] | None = None
        self.op: int | None = None
        self.ops: dict[int, dict] = {}
        self._captured: list = []
        self._lock = threading.Lock()

    # ----------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _inside(self) -> set[str]:
        names = getattr(self._local, "names", None)
        if names is None:
            names = self._local.names = set()
        return names

    def open(self, name: str, label: str | None = None) -> int:
        st = self._stack()
        if st:
            parent = st[-1]
        elif self._op_stack:
            parent = self._op_stack[-1]
        else:
            parent = None
        with self._lock:
            sid = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.op, label])
        st.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.op is not None:
            c = self.ops[self.op]["counts"]
            c[name] = c.get(name, 0) + n

    # ------------------------------------------------------- operations

    def begin_op(self, op_id: int, kind: str) -> None:
        self.active = True
        self.op = op_id
        self._captured = []
        self.ops[op_id] = {
            "kind": kind,
            "wall0": time.time(),
            "counts": {},
            "cache0": _cache_entries(),
        }
        self.open("op", kind)
        self._op_stack = self._stack()

    def end_op(self) -> None:
        op = self.ops[self.op]
        self.close(self._op_stack[0])
        op["wall1"] = time.time()
        op["counts"]["cache.entries_added"] = _cache_entries() - op.pop("cache0")
        self.active = False
        # Catalyst phases of the DataFrames this operation built, planned
        # outside the timed interval with the tracer off
        phases = defaultdict(float)
        for df in self._captured[:MAX_PLANNED_PER_OP]:
            for k, v in _catalyst_phases(df).items():
                phases[k] += v
        op["catalyst"] = dict(phases)
        self._captured = []
        self._op_stack = None
        self.op = None

    def overhead_ratio(self, op_seconds: float) -> float:
        """Estimated share of the operations' time spent in the tracer."""
        probe = Tracer()
        box = type("Box", (), {"f": staticmethod(lambda: None)})
        n = 20_000
        t0 = time.perf_counter()
        for _ in range(n):
            box.f()
        plain = time.perf_counter() - t0
        probe.wrap(box, "f", "probe")
        probe.active = True
        t0 = time.perf_counter()
        for _ in range(n):
            box.f()
        per_span = max(0.0, (time.perf_counter() - t0 - plain) / n)
        return per_span * len(self.spans) / op_seconds if op_seconds else 0.0

    def capture(self, df) -> None:
        if self.active and df is not None and hasattr(df, "_jdf"):
            self._captured.append(df)

    # ------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, label=None, after=None, error=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            # a call nested in a span of the same name (recursion) stays in
            # the outer span, so per-name totals never count time twice
            inside = tracer._inside()
            if not tracer.active or name in inside:
                return orig(*args, **kwargs)
            sid = tracer.open(name, label(args) if label else None)
            inside.add(name)
            try:
                res = orig(*args, **kwargs)
            except BaseException as e:
                if error is not None:
                    error(e)
                raise
            finally:
                inside.discard(name)
                tracer.close(sid)
            if after is not None:
                after(args, res)
            return res

        setattr(owner, attr, traced)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _cache_entries() -> int:
    n = 0
    for mod, attr in CACHES:
        m = sys.modules.get(mod)
        c = getattr(m, attr, None) if m is not None else None
        if c is not None:
            n += len(c)
    return n


def _catalyst_phases(df) -> dict[str, float]:
    from py4j.protocol import Py4JError

    out: dict[str, float] = {}
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
    except Py4JError:  # a plan that no longer resolves: no phases to report
        return out
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined():
            out[p] = o.get().durationMs() / 1000.0
    return out


def _stmt_kind(args) -> str:
    words = str(args[1]).split(None, 1)
    return words[0].upper() if words else "?"


def install(tracer: Tracer, spark) -> None:
    """Wrap each layer's public entry points (the layer table is in
    perfbench/README.md)."""
    from entangledb_spark import engine as eng_mod
    from entangledb_spark import engine_base, engine_ddl, engine_dml, engine_explain
    from entangledb_spark import engine_matview
    from entangledb_spark.plans import compiler
    from entangledb_spark.sources import catalog, constraints

    cap = lambda args, res: tracer.capture(res)  # noqa: E731
    engine_mods = (eng_mod, engine_ddl, engine_dml, engine_explain, engine_matview)

    # plans: the parse that engine imports, and compile_statement where the
    # engine modules imported it (its recursion inside the compiler stays
    # inside one span)
    tracer.wrap(eng_mod, "parse", "plans.parse")
    for m in engine_mods:
        if hasattr(m, "compile_statement"):
            tracer.wrap(m, "compile_statement", "plans.compile", after=cap)
    # operators: expression construction in functions/, from its importers
    for m in engine_mods + (compiler,):
        if hasattr(m, "compile_expr"):
            tracer.wrap(m, "compile_expr", "operators.build")
    # engine
    tracer.wrap(eng_mod.Engine, "execute", "engine.execute", label=_stmt_kind)
    # a SELECT's result is lazy: its Spark job runs when the rows are fetched
    tracer.wrap(engine_base.Result, "fetch", "engine.fetch")
    # sources: catalog and constraints
    cat = catalog.SnapshotCatalog
    tracer.wrap(cat, "manifest", "catalog.manifest")
    tracer.wrap(
        cat, "publish", "catalog.publish",
        error=lambda e: tracer.count("catalog.conflicts")
        if isinstance(e, catalog.ConflictError) else None,
    )
    tracer.wrap(cat, "write_snapshot", "catalog.write_snapshot",
                after=lambda args, res: tracer.capture(args[2]))
    tracer.wrap(cat, "stage_delta", "catalog.stage_delta")
    tracer.wrap(cat, "compact", "catalog.compact")
    for fn in ("check_not_null_and_length", "check_unique", "check_foreign_keys",
               "check_delete_references"):
        tracer.wrap(constraints, fn, "constraints.check")
    # py4j: every command sent to the JVM
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    tracer.wrap(client_cls, "send_command", "py4j")


def spark_accounting(spark, ops: dict[int, dict]) -> None:
    """Attribute the status store's jobs and stages to operations by
    wall-clock interval; adds ``spark`` counters to each op dict."""
    from py4j.protocol import Py4JError

    store = spark.sparkContext._jsc.sc().statusStore()
    bounds = sorted((o["wall0"] * 1000, o["wall1"] * 1000, oid) for oid, o in ops.items())
    for o in ops.values():
        o["spark"] = defaultdict(float)
    intervals: dict[int, list[tuple[int, int]]] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        t = sub.get().getTime()
        oid = next((oid for a, b, oid in bounds if a <= t <= b), None)
        if oid is None:
            continue
        acc = ops[oid]["spark"]
        acc["jobs"] += 1
        done = j.completionTime()
        if done.isDefined():
            intervals.setdefault(oid, []).append((t, done.get().getTime()))
        stage_ids = j.stageIds()
        for k in range(stage_ids.size()):
            try:
                s = store.lastStageAttempt(stage_ids.apply(k))
            except Py4JError:  # a stage that never ran has no attempt
                continue
            if s.numCompleteTasks() == 0:
                continue  # skipped: reused shuffle output
            acc["stages"] += 1
            acc["tasks"] += s.numCompleteTasks()
            acc["task_s"] += s.executorRunTime() / 1000.0
            acc["shuffle_read_bytes"] += s.shuffleReadBytes()
            acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
            acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    # wall time covered by at least one running job (jobs can overlap)
    for oid, iv in intervals.items():
        ops[oid]["spark"]["job_wall_s"] = covered(iv) / 1000.0


def layer_report(tracer: Tracer, cores: int) -> tuple[dict, dict]:
    """(metrics, detail) per operation, averaged over the traced operations.

    Self time of a span is its duration minus the time its child spans
    cover; a layer's self time is the sum over its spans. The JVM's share (time
    inside py4j calls) is split into Spark job wall time and the rest
    (Catalyst and driver bookkeeping)."""
    n_ops = max(1, len(tracer.ops))
    # children on two threads can overlap (py4j calls from finalizers), so
    # a span's covered time is the union of its children's intervals
    kids = defaultdict(list)
    for s in tracer.spans:
        if s[2] is not None and s[3] is not None:
            kids[s[3]].append((s[1], s[2]))
    child = {sid: covered(iv) for sid, iv in kids.items()}
    self_by_layer = defaultdict(float)
    time_by = defaultdict(float)
    calls_by = defaultdict(int)
    kind_time = defaultdict(float)
    kind_self = defaultdict(float)
    kind_n = defaultdict(int)
    for sid, s in enumerate(tracer.spans):
        if s[2] is None or s[4] is None:
            continue
        dur = s[2] - s[1]
        own = dur - child.get(sid, 0.0)
        name = s[0]
        self_by_layer[LAYERS[name.split(".")[0]]] += own
        time_by[name] += dur
        calls_by[name] += 1
        if name == "engine.execute":
            kind_time[s[5]] += dur
            kind_self[s[5]] += own
            kind_n[s[5]] += 1

    counts = defaultdict(float)
    sp = defaultdict(float)
    cat = defaultdict(float)
    op_wall = 0.0
    for o in tracer.ops.values():
        for k, v in o["counts"].items():
            counts[k] += v
        for k, v in o.get("spark", {}).items():
            sp[k] += v
        for k, v in o.get("catalyst", {}).items():
            cat[k] += v
        op_wall += o["wall1"] - o["wall0"]

    jvm = self_by_layer.pop("jvm", 0.0)
    spark_self = min(jvm, sp["job_wall_s"])
    self_by_layer["spark"] = spark_self
    self_by_layer["catalyst"] = jvm - spark_self
    op_time = time_by["op"]
    per = lambda v: v / n_ops  # noqa: E731
    m = {
        "plans.parse_s": per(time_by["plans.parse"]),
        "plans.parse_calls": per(calls_by["plans.parse"]),
        "plans.compile_s": per(time_by["plans.compile"]),
        "operators.build_s": per(time_by["operators.build"]),
        "py4j.calls": per(calls_by["py4j"]),
        "py4j.s": per(time_by["py4j"]),
        "cache.entries_added": per(counts["cache.entries_added"]),
        "catalyst.analysis_s": per(cat["analysis"]),
        "catalyst.optimization_s": per(cat["optimization"]),
        "catalyst.planning_s": per(cat["planning"]),
        "spark.jobs": per(sp["jobs"]),
        "spark.stages": per(sp["stages"]),
        "spark.tasks": per(sp["tasks"]),
        "spark.task_s": per(sp["task_s"]),
        "spark.shuffle_read_bytes": per(sp["shuffle_read_bytes"]),
        "spark.shuffle_write_bytes": per(sp["shuffle_write_bytes"]),
        "spark.spill_bytes": per(sp["spill_bytes"]),
        "spark.core_util": sp["task_s"] / (op_wall * cores) if op_wall else 0.0,
        "engine.execute_s": per(time_by["engine.execute"] + time_by["engine.fetch"]),
        "catalog.manifest_reads": per(calls_by["catalog.manifest"]),
        "catalog.manifest_s": per(time_by["catalog.manifest"]),
        "catalog.publish_s": per(time_by["catalog.publish"]),
        "catalog.conflicts": per(counts["catalog.conflicts"]),
        "catalog.write_snapshot_s": per(time_by["catalog.write_snapshot"]),
        "catalog.stage_delta_s": per(time_by["catalog.stage_delta"]),
        "catalog.compactions": per(calls_by["catalog.compact"]),
        "constraints.check_s": per(time_by["constraints.check"]),
        "constraints.checks": per(calls_by["constraints.check"]),
        # time an operation spends outside the engine: the TCP round trip
        # and request handling in oltp, the in-process call in ingest_refresh
        "server.overhead_s": per(
            op_time - time_by["engine.execute"] - time_by["engine.fetch"]
        ),
    }
    for layer in ("plans", "operators", "engine", "sources", "catalyst", "spark"):
        m[f"self.{layer}_s"] = per(self_by_layer[layer])
    detail = {
        "traced_ops": len(tracer.ops),
        "matview.refresh_s": (
            kind_time["REFRESH"] / kind_n["REFRESH"] if kind_n.get("REFRESH") else None
        ),
        "catalog.compact_s": (
            time_by["catalog.compact"] / calls_by["catalog.compact"]
            if calls_by["catalog.compact"] else None
        ),
        "spans": len(tracer.spans),
        "engine_by_kind": {
            k: {
                "n": kind_n[k],
                "execute_s": round(kind_time[k] / kind_n[k], 4),
                "self_s": round(kind_self[k] / kind_n[k], 4),
            }
            for k in sorted(kind_n)
        },
    }
    return m, detail
