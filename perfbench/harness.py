"""Timing, tracing and counter collection around the library's public calls.

An op is one call into the library (a registered query, a StarTable read,
a write, ...) whose outputs are checked.  The harness runs ops one at a
time (a closed loop with one client) and records, per execution, its wall
time without the time spent checking outputs.

Tracing (``Tracer``) is only switched on for the separate traced run: it
keeps spans in memory, sets one Spark job group per op, listens for each
action's QueryExecution to read its planning phases, and reads the stage
counters of the op's jobs from the status store right after the op, since
the store keeps only a bounded number of jobs and stages.
"""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import Observation
from pyspark.sql import functions as F


class CheckFailed(Exception):
    """An op's output differs from what it should be."""


@dataclass
class Op:
    """One library call under test.

    ``execute(ctx, first)`` builds and runs the op and returns a fingerprint
    of its outputs.  With ``first`` set (the warm-up execution) it also
    checks the outputs in full and raises :class:`CheckFailed` on a
    mismatch; later executions are checked by comparing their fingerprint
    with the first one.  ``rows`` is the declared number of input rows.
    """

    name: str
    rows: int
    execute: Callable[["Ctx", bool], Any]
    layer: str = "queries"
    #: rows the op is asked to write (for bytes_written_per_row)
    rows_written: int = 0


@dataclass
class Execution:
    op: str
    op_id: int
    wall_s: float
    ok: bool
    error: str = ""
    bytes_written: int = 0
    driver_cpu_s: float = 0.0
    check_s: float = 0.0
    #: CPU seconds of the driver and the JVM tree, without the checks
    cpu_s: float = 0.0
    layers: Dict[str, float] = field(default_factory=dict)


def process_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


_TICK = os.sysconf("SC_CLK_TCK")

#: JVM threads whose CPU is left out: JIT compilation and garbage collection
#: run beside the work and vary with timing from run to run
_JVM_BACKGROUND = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread",
                   "VM Periodic Tas", "Sweeper thread")


def _ticks(path: str, with_children: bool) -> int:
    """utime + stime (+ cutime + cstime of reaped children) from a ``/proc``
    stat file.  A thread's stat repeats its process's children times, so
    threads are read without them."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if with_children else 13])


def jvm_work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's threads other than its JIT compiler and GC
    threads, plus every process the JVM started (the Python workers)."""
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as fh:
                if fh.read().startswith(_JVM_BACKGROUND):
                    continue
            total += _ticks(f"{task_dir}/{tid}/stat", False)
        except OSError:  # the thread ended while it was read
            continue
    parent: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    children: Dict[int, List[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        try:
            total += _ticks(f"/proc/{pid}/stat", True)
        except OSError:
            continue
        todo.extend(children.get(pid, []))
    return total / _TICK


class CpuMeter:
    """CPU seconds of work done so far: the driver (this process), the
    JVM's work threads and the Python workers.  Unlike wall time, it does
    not count time the host gave to other tenants, so it repeats far better
    on a shared machine."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> float:
        return process_cpu_s() + jvm_work_cpu_s(self.jvm_pid)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def clear_dir(path: str) -> None:
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.unlink(p)


class Ctx:
    """What an op sees: the session, a fresh output directory, and the span
    and check helpers."""

    def __init__(self, spark, work_dir: str, tracer: Optional["Tracer"], cpu: CpuMeter):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu
        self.op_dir = os.path.join(work_dir, "op")
        #: library-internal scratch (``tempfile``) lands here
        self.tmp_dir = os.path.join(work_dir, "tmp")
        for d in (self.op_dir, self.tmp_dir):
            os.makedirs(d, exist_ok=True)
        self.check_s = 0.0
        self.check_cpu_s = 0.0
        self.check_tree_cpu_s = 0.0
        #: free-form per-execution counters ops report (fixes, files, ...)
        self.notes: Dict[str, float] = {}

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    @contextlib.contextmanager
    def check(self):
        """Time spent in here is not part of the op's wall time."""
        t0, c0, k0 = time.perf_counter(), process_cpu_s(), self.cpu()
        try:
            with self.span("check"):
                yield
        finally:
            self.check_s += time.perf_counter() - t0
            self.check_cpu_s += process_cpu_s() - c0
            self.check_tree_cpu_s += self.cpu() - k0

    def note(self, key: str, value: float) -> None:
        self.notes[key] = value

    def consume(self, df, first: bool):
        """Run ``df`` to completion and fingerprint every output row.

        The action is a ``noop`` write, which computes every output column
        (``count()`` would let the optimizer prune them).  The first
        execution collects the rows instead, for the full check.  An
        ``Observation`` sums a hash of each row in the same job, so later
        executions are checked without a second pass.
        """
        rows = None
        with self.span("action"):
            obs = Observation()
            observed = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash(*[F.col(f"`{c}`") for c in df.columns])).alias("h"),
            )
            if first:
                rows = [tuple(r) for r in observed.collect()]
            else:
                observed.write.format("noop").mode("overwrite").save()
            got = obs.get
        return (got["n"], got["h"]), rows


def run_op(ctx: Ctx, op: Op, op_id: int, first: bool, ref: Dict[str, Any]) -> Execution:
    """Execute ``op`` once in a fresh output directory, then measure what it
    left on disk and remove it."""
    ctx.check_s = ctx.check_cpu_s = ctx.check_tree_cpu_s = 0.0
    ctx.notes = {}
    tr = ctx.tracer
    if tr is not None:
        tr.begin_op(op_id, op.name)
    cpu0, tree0 = process_cpu_s(), ctx.cpu()
    t0 = time.perf_counter()
    ok, err = True, ""
    try:
        with ctx.span("op"):
            fp = op.execute(ctx, first)
        if first:
            ref[op.name] = fp
        elif ref.get(op.name) is None:
            raise CheckFailed("no checked reference output (first execution failed)")
        elif fp != ref[op.name]:
            raise CheckFailed(f"output fingerprint {fp!r} != checked {ref[op.name]!r}")
    except CheckFailed as e:
        ok, err = False, f"check: {e}"
    except Exception as e:  # the loop must go on; the failure is counted
        ok, err = False, f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    wall = time.perf_counter() - t0 - ctx.check_s
    cpu = process_cpu_s() - cpu0 - ctx.check_cpu_s
    tree = ctx.cpu() - tree0 - ctx.check_tree_cpu_s
    written = dir_bytes(ctx.op_dir) + dir_bytes(ctx.tmp_dir)
    ex = Execution(op.name, op_id, wall, ok, err, written, cpu, ctx.check_s, tree)
    ex.layers.update(ctx.notes)
    if tr is not None:
        ex.layers.update(tr.end_op(op_id))
    clear_dir(ctx.op_dir)
    clear_dir(ctx.tmp_dir)
    return ex


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class _QEListener:
    """py4j implementation of Spark's QueryExecutionListener: records the
    analysis/optimization/planning phases of every finished action."""

    def __init__(self):
        self.events: List[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().durationMs() / 1000.0)
        with self._lock:
            self.events.append({"func": func_name, "phases": phases})

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans and Spark counters for the traced run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._op_id: Optional[int] = None
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QEListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self._store = self.sc._jsc.sc().statusStore()

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op_id": self._op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def begin_op(self, op_id: int, name: str) -> None:
        self._op_id = op_id
        self.sc.setJobGroup(f"perfbench-{op_id}", name, interruptOnCancel=False)

    def end_op(self, op_id: int) -> Dict[str, float]:
        """Counters of the op's jobs, read right away (bounded retention)."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(f"perfbench-{op_id}"))
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        c = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "input_bytes": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        intervals = []
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # skipped stages may never be registered
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED", "ACTIVE"):
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1000.0
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["input_bytes"] += sd.inputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._op_id = None
        c["_stage_intervals"] = intervals
        return c


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: List[dict]) -> Dict[str, float]:
    """Per span name: duration minus the part its child spans cover."""
    children: Dict[int, List[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: Dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["end"] is None:
            continue
        kids = [(k["start"], k["end"]) for k in children.get(i, []) if k["end"] is not None]
        own = (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def attribute(tracer: Tracer, executions: List[Execution]) -> None:
    """Split each traced execution's wall time into build, planning, stage
    time and driver gap, in ``ex.layers``.

    Planning is the analysis, optimization and planning phases that began
    inside the op's action spans (the ``noop`` write plans a QueryExecution
    of its own); stage time is the part of the action spans covered by a
    running stage of the op's jobs; the driver gap is the rest of the action
    time.  ``residual_s`` is what build + plan + stage + gap leave of the
    wall time (harness work between the spans).
    """
    time.sleep(0.5)  # listener events arrive asynchronously
    phases = [p for ev in list(tracer.listener.events) for p in ev["phases"].values()]
    by_op: Dict[int, List[dict]] = {}
    for s in tracer.spans:
        if s["op_id"] is not None and s["end"] is not None:
            by_op.setdefault(s["op_id"], []).append(s)
    for ex in executions:
        spans = by_op.get(ex.op_id, [])
        actions = [(s["start"], s["end"]) for s in spans if s["name"] == "action"]
        build_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "build")
        action_s = sum(b - a for a, b in actions)
        # phase start times have millisecond resolution
        plan_s = sum(d for start, d in phases if any(a - 0.001 <= start <= b for a, b in actions))
        intervals = ex.layers.pop("_stage_intervals", [])
        stage_s = sum(covered(intervals, a, b) for a, b in actions)
        gap_s = max(0.0, action_s - plan_s - stage_s)
        ex.layers.update(
            build_s=build_s,
            plan_s=plan_s,
            stage_s=stage_s,
            driver_gap_s=gap_s,
            residual_s=ex.wall_s - (build_s + plan_s + stage_s + gap_s),
        )


def tail(values: List[float]):
    """The highest whole percentile with at least ten values beyond it, as
    (value, percentile, n).  With ten values or fewer no percentile has ten
    beyond it, and the maximum is reported as p100."""
    n = len(values)
    v = sorted(values)
    if n <= 10:
        return v[-1], 100, n
    p = int(100 * (1 - 10 / n))
    # nearest-rank: the value below which p% of the sample lies
    k = max(1, -(-p * n // 100))
    return v[k - 1], p, n


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0
