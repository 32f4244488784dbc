"""Benchmark of pdtable_spark, driven only through the library's public calls.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload startable_io --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

One run starts a Spark session (``local[N]``, N = usable cores), makes the
workload's inputs from ``--seed``, runs every op once as a warm-up (and
checks its output in full), then runs whole passes over the ops, in a
seeded order, until ``--seconds`` have elapsed.  Every execution's output is
checked.  The last line of standard output is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``,
which adds a traced phase after the untraced one).  ``--smoke`` runs every
workload once at a tiny size and checks the metric names and units against
BENCHMARK.json.

The command itself only supervises: it runs the benchmark in a child
process and, once that child has ended, stops and waits for every process
the run left behind (Spark's JVM starts Python worker daemons in process
groups of their own, and ``multiprocessing`` starts a resource tracker), so
no process outlives the command.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import random
import resource
import signal
import statistics
import subprocess
import sys
import tempfile
import time

_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _prepare_process() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the library (they do not inherit ``sys.path``)."""
    if not os.path.isfile(os.path.join(ROOT, "pdtable_spark", "__init__.py")):
        raise SystemExit(
            f"perfbench: no pdtable_spark package under {ROOT}; run from a checkout of the repository"
        )
    for d in ("proc-tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "proc-tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The session, its wall start time, and a CPU meter with the CPU the
    start took."""
    from pyspark import SparkContext

    from harness import CpuMeter, process_cpu_s
    from pdtable_spark import get_session

    t0, c0 = time.perf_counter(), process_cpu_s()
    n = cores()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'jvm-tmp')} "
                f"-Dderby.system.home={os.path.join(WORK, 'derby')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    meter = CpuMeter(SparkContext._gateway.proc.pid)
    return spark, time.perf_counter() - t0, meter() - c0, meter


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def single_thread_probe_ms() -> float:
    """Median of five timings of a fixed pure-Python loop."""
    out = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i * i
        out.append(time.perf_counter() - t0)
    return statistics.median(out) * 1000.0


def host_stamp(spark, seed: int) -> dict:
    return {
        "nproc": cores(),
        "load_1min": os.getloadavg()[0],
        "single_thread_probe_ms": single_thread_probe_ms(),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "seed": seed,
        "series": "perfbench-1",
    }


# ---------------------------------------------------------------------------
# One workload
# ---------------------------------------------------------------------------


def run_passes(ctx, ops, rng, seconds: float, next_id, ref):
    """Whole passes in a seeded order until ``seconds`` have elapsed (at
    least one)."""
    from harness import run_op

    out = []
    t0 = time.perf_counter()
    while True:
        order = list(ops)
        rng.shuffle(order)
        for op in order:
            out.append((op, run_op(ctx, op, next_id(), False, ref)))
        if time.perf_counter() - t0 >= seconds:
            return out


def end_to_end(timed, setup_s: float, setup_cpu_s: float) -> dict:
    """End-to-end metrics of the timed executions.  Each op's executions are
    reduced to their median first, so one slow execution (a GC pause, a
    burst of load from another tenant) moves a run's figures little."""
    from harness import median, tail

    ok = [(op, ex) for op, ex in timed if ex.ok]
    walls = [ex.wall_s for _, ex in ok]
    by_op: dict = {}
    for op, ex in ok:
        by_op.setdefault(op.name, (op, [], []))
        by_op[op.name][1].append(ex.wall_s)
        by_op[op.name][2].append(ex.cpu_s)
    rows = sum(op.rows for op, _, _ in by_op.values())
    op_wall = [median(w) for _, w, _ in by_op.values()]
    op_cpu = [median(c) for _, _, c in by_op.values()]
    if len(walls) >= 20:
        tail_v, tail_p, tail_n = tail(walls)
        tail_note = f"p{tail_p} of n={tail_n} executions"
    else:
        tail_v = max(op_wall, default=0.0)
        tail_note = f"slowest op's median; n={len(walls)} executions support no percentile"
    rows_written = sum(op.rows_written for op, _ in timed)
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / sum(op_wall) if op_wall else 0.0, "rows/s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (tail_v, "s", tail_note),
        "rows_per_cpu_s": (rows / sum(op_cpu) if op_cpu else 0.0, "rows/s"),
        "op_cpu_p50_s": (median([ex.cpu_s for _, ex in ok]), "s"),
        "setup_cpu_s": (setup_cpu_s, "s"),
        "driver_rss_peak_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
        "ops_failed_frac": (sum(not ex.ok for _, ex in timed) / max(1, len(timed)), "1"),
        "bytes_written_per_row": (
            sum(ex.bytes_written for _, ex in timed) / rows_written if rows_written else 0.0,
            "B/row",
        ),
    }


def per_layer(traced, cores_: int) -> dict:
    from harness import median

    ok = [(op, ex) for op, ex in traced if ex.ok]
    exs = [ex for _, ex in ok]
    n = max(1, len(exs))

    def mean(key):
        return sum(ex.layers.get(key, 0.0) for ex in exs) / n

    def of(name):
        return [ex for op, ex in ok if op.name == name]

    def med_wall(name):
        return median([ex.wall_s for ex in of(name)])

    def med_note(name, key):
        return median([ex.layers.get(key, 0.0) for ex in of(name)])

    walls = sum(ex.wall_s for ex in exs)
    q = [ex for op, ex in ok if op.layer == "queries"]
    parsed = of("read_csv_parsed")
    writes = of("write_csv") + of("write_csv_distributed")

    def frac(a, b):
        return a / b if b else 0.0

    m = {
        "queries.build_s": (median([ex.layers["build_s"] for ex in q]) if q else 0.0, "s"),
        "spark.plan_s": (mean("plan_s"), "s"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.driver_gap_s": (mean("driver_gap_s"), "s"),
        "spark.stage_s": (mean("stage_s"), "s"),
        "spark.executor_run_s": (mean("executor_run_s"), "s"),
        "spark.executor_cpu_s": (mean("executor_cpu_s"), "s"),
        "spark.input_bytes": (mean("input_bytes"), "B"),
        "spark.shuffle_read_bytes": (mean("shuffle_read_bytes"), "B"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (mean("spill_bytes"), "B"),
        "spark.slot_util": (frac(mean("executor_run_s") * n, walls * cores_), "1"),
        "parsers.rows_per_s": (
            frac(sum(ex.layers.get("parsed_rows", 0) for ex in parsed),
                 sum(ex.wall_s for ex in parsed)),
            "rows/s",
        ),
        "parsers.fixes": (med_note("read_csv_parsed", "fixes"), "count"),
        "table.build_s": (
            max(0.0, med_note("read_csv", "read_s") - med_note("read_csv_parsed", "parse0_s")),
            "s",
        ),
        "table.units_s": (med_wall("table_units"), "s"),
        "io.csv.scan_s": (med_wall("scan_csv"), "s"),
        "io.csv.write_s": (med_wall("write_csv"), "s"),
        "io.csv.write_distributed_s": (med_wall("write_csv_distributed"), "s"),
        "io.csv.bytes_written": (
            frac(sum(ex.bytes_written for ex in writes), len(writes)), "B"
        ),
        "io.load.s": (med_wall("load_files"), "s"),
        "io.load.files": (med_note("load_files", "files"), "count"),
        "driver.cpu_s": (frac(sum(ex.driver_cpu_s for ex in exs), n), "s"),
        "driver.cpu_frac": (frac(sum(ex.driver_cpu_s for ex in exs), walls), "1"),
        "trace.residual_max_frac": (
            max((abs(ex.layers.get("residual_s", 0.0)) / ex.wall_s for ex in exs), default=0.0),
            "1",
        ),
    }
    return m


def per_op(timed) -> dict:
    from harness import median

    out = {}
    for op, ex in timed:
        d = out.setdefault(op.name, {"walls": [], "failed": 0, "errors": []})
        if ex.ok:
            d["walls"].append(ex.wall_s)
        else:
            d["failed"] += 1
            d["errors"].append(ex.error)
    return {
        k: {"median_s": median(v["walls"]), "n": len(v["walls"]), "failed": v["failed"],
            "errors": sorted(set(v["errors"]))}
        for k, v in out.items()
    }


def run_workload(session, wl, seed: int, seconds: float, trace: bool) -> dict:
    from harness import Ctx, Tracer, attribute, run_op, self_times

    spark, session_s, session_cpu_s, meter = session
    ctx = Ctx(spark, WORK, None, meter)
    tempfile.tempdir = ctx.tmp_dir  # library scratch directories land in the per-op area
    t0, c0 = time.perf_counter(), meter()
    if wl.prepare is not None:
        wl.prepare(spark)
    prepare_s, prepare_cpu_s = time.perf_counter() - t0, meter() - c0
    rng = random.Random(seed)
    counter = iter(range(1, 1 << 30))
    next_id = counter.__next__
    ref: dict = {}

    warm = []
    order = list(wl.ops)
    rng.shuffle(order)
    for op in order:
        warm.append((op, run_op(ctx, op, next_id(), True, ref)))
    setup_s = session_s + prepare_s + sum(ex.wall_s for _, ex in warm)
    setup_cpu_s = session_cpu_s + prepare_cpu_s + sum(ex.cpu_s for _, ex in warm)

    t1 = time.perf_counter()
    timed = run_passes(ctx, wl.ops, rng, seconds, next_id, ref)
    phases = {"prepare": prepare_s, "warmup": t1 - t0 - prepare_s, "timed": time.perf_counter() - t1}
    e2e = end_to_end(timed, setup_s, setup_cpu_s)
    rec = {
        "workload": wl.name,
        "inputs": wl.inputs,
        "session_s": session_s,
        "session_cpu_s": session_cpu_s,
        "phase_wall_s": phases,
        "warmup_failures": {op.name: ex.error for op, ex in warm if not ex.ok},
        "warmup_s": {op.name: ex.wall_s for op, ex in warm},
        "warmup_check_s": {op.name: ex.check_s for op, ex in warm},
        "check_s": sum(ex.check_s for _, ex in warm + timed),
        "end_to_end": e2e,
        "ops": per_op(timed),
        "attempted": len(timed),
        "failed": sum(not ex.ok for _, ex in timed),
    }
    if trace:
        tracer = Tracer(spark)
        ctx.tracer = tracer
        try:
            traced = run_passes(ctx, wl.ops, rng, seconds, next_id, ref)
        finally:
            ctx.tracer = None
            tracer.close()
        attribute(tracer, [ex for _, ex in traced])
        layers = per_layer(traced, cores())
        traced_e2e = end_to_end(traced, setup_s, setup_cpu_s)
        both = end_to_end(timed + traced, setup_s, setup_cpu_s)
        # wall-time figures come from the untraced passes
        for k in ("rows_per_s", "op_p50_s", "op_tail_s", "op_cpu_p50_s", "setup_cpu_s"):
            layers[k] = e2e[k]
        for k in ("ops_failed_frac", "bytes_written_per_row"):
            layers[k] = both[k]
        layers["trace.overhead_frac"] = (
            1.0 - traced_e2e["rows_per_s"][0] / e2e["rows_per_s"][0] if e2e["rows_per_s"][0] else 0.0,
            "1",
        )
        rec["per_layer"] = layers
        rec["traced_ops"] = per_op(traced)
        rec["attempted"] += len(traced)
        rec["failed"] += sum(not ex.ok for _, ex in traced)
        rec["self_time_s"] = self_times(tracer.spans)
        rec["op_layers"] = [
            {"op": op.name, "op_id": ex.op_id, "wall_s": ex.wall_s, "ok": ex.ok,
             "cpu_s": ex.cpu_s, "driver_cpu_s": ex.driver_cpu_s,
             "bytes_written": ex.bytes_written, **ex.layers}
            for op, ex in traced
        ]
        rec["spans"] = tracer.spans
    return rec


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def _fmt(name, v) -> str:
    extra = f" ({v[2]})" if len(v) > 2 else ""
    return f"{name} = {v[0]:.6g} {v[1]}{extra}"


def report(rec: dict, trace: bool) -> dict:
    """Print the human-readable lines and return the result object."""
    print(f"perfbench workload={rec['workload']} inputs: {rec['inputs']}")
    print("host: " + json.dumps(rec["host"], sort_keys=True))
    print(f"inputs made in {rec['inputs_s']:.3f} s (not part of setup_s); "
          f"session start {rec['session_s']:.3f} s")
    for name, v in rec["end_to_end"].items():
        print(_fmt(name, v))
    for name, d in sorted(rec["ops"].items()):
        print(f"op.{name}.s = {d['median_s']:.6g} s (n={d['n']}, failed={d['failed']})")
        for e in d["errors"]:
            print(f"  FAILED {name}: {e}")
    for name, e in rec["warmup_failures"].items():
        print(f"  FAILED {name} (warm-up check): {e}")
    if trace:
        for name, v in rec["per_layer"].items():
            if name not in rec["end_to_end"]:
                print(_fmt(name, v))
        for name, s in sorted(rec["self_time_s"].items()):
            print(f"self_time.{name} = {s:.6g} s")
        print(f"trace written to {os.path.relpath(rec['trace_path'], ROOT)}")
    metrics = rec["per_layer"] if trace else {
        k: v for k, v in rec["end_to_end"].items() if k in _BENCH_E2E
    }
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


_BENCH_E2E = {m["name"] for m in _benchmark_json()["end_to_end"]} if os.path.isfile(
    os.path.join(ROOT, "BENCHMARK.json")
) else set()


def run_one(session, name: str, seed: int, seconds: float, trace: bool, smoke: bool,
            inputs_s: float, wl) -> dict:
    rec = run_workload(session, wl, seed, seconds, trace)
    rec["host"] = host_stamp(session[0], seed)
    rec["inputs_s"] = inputs_s
    rec["trace"] = trace
    out_dir = os.path.join(WORK, "records")
    os.makedirs(out_dir, exist_ok=True)
    base = f"{name}-seed{seed}-trace{int(trace)}{'-smoke' if smoke else ''}"
    rec["trace_path"] = os.path.join(out_dir, base + ".json")
    with open(rec["trace_path"], "w") as fh:
        json.dump(rec, fh, default=str)
    return rec


def make_inputs(name: str, seed: int, smoke: bool):
    """Generate the workload's inputs and its oracle results in a child
    process (so their memory is not the driver's), then build its ops."""
    import multiprocessing

    import gen
    import workloads
    from pdtable_spark.queries.suite import ORACLES

    t0 = time.perf_counter()
    build, queries = workloads.WORKLOADS[name]
    sql = {q: ORACLES[q] for q in queries}
    pool = multiprocessing.get_context("spawn").Pool(1)
    try:
        inputs = pool.apply(gen.make_inputs, (name, WORK, seed, smoke, sql))
    finally:
        pool.close()
        pool.join()
    wl = build(inputs)
    return wl, time.perf_counter() - t0


def smoke(seed: int) -> int:
    """Every op of every workload once at a tiny size, untraced and traced;
    the records must name every metric of BENCHMARK.json with its unit."""
    from workloads import WORKLOADS

    bench = _benchmark_json()
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    session = start_session()
    problems = []
    try:
        for name in WORKLOADS:
            wl, inputs_s = make_inputs(name, seed, True)
            rec = run_one(session, name, seed, 0.0, True, True, inputs_s, wl)
            for trace, want in ((False, want_e2e), (True, want_layer)):
                got = report(rec, trace)
                for k, unit in want.items():
                    m = got["metrics"].get(k)
                    if m is None or m["unit"] != unit:
                        problems.append(f"{name}: metric {k} [{unit}] missing or mis-unit: {m}")
                if not got["correct"]:
                    problems.append(f"{name}: {got['failed']} of {got['attempted']} ops failed")
            print(json.dumps(got))
    finally:
        stop_session(session[0])
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problems")
    return 0 if not problems else 1


# ---------------------------------------------------------------------------
# Supervision: no process outlives the command
# ---------------------------------------------------------------------------

_INNER_ENV = "PERFBENCH_INNER"
_PR_SET_CHILD_SUBREAPER = 36


def _children_of(pid: int) -> list:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, ValueError, IndexError):
                continue
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return "?"


def reap_leftovers(grace_s: float = 5.0) -> dict:
    """Stop every remaining child (SIGTERM, then SIGKILL after ``grace_s``)
    and wait for each until none is left.  As a child subreaper this process
    inherits every orphaned descendant, so this covers the whole tree.
    Returns the command lines of the processes found still running."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    seen: dict = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return seen
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children_of(me):
            if pid not in seen:
                seen[pid] = _cmdline(pid)
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv) -> int:
    """Run the benchmark in a child process, then stop and reap whatever it
    left running; exit with the child's code."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: cannot become a child subreaper (errno {ctypes.get_errno()})",
              file=sys.stderr)
        return 1
    env = dict(os.environ, **{_INNER_ENV: "1"})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env)

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        code = child.wait()
    finally:
        left = reap_leftovers()
    for pid, cmd in left.items():
        print(f"perfbench: stopped leftover process {pid}: {cmd}", file=sys.stderr)
    return code if code >= 0 else 128 - code  # killed by a signal: the shell's convention


def main(argv=None) -> int:
    if os.environ.get(_INNER_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["startable_io", "relational_sf1", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    _prepare_process()
    if args.smoke:
        return smoke(args.seed)
    if args.workload is None:
        ap.error("--workload is required")
    wl, inputs_s = make_inputs(args.workload, args.seed, False)
    t0 = time.perf_counter()
    session = start_session()
    try:
        rec = run_one(session, args.workload, args.seed, args.seconds, bool(args.trace), False,
                      inputs_s, wl)
    finally:
        t_stop = time.perf_counter()
        stop_session(session[0])
    print(f"process {time.perf_counter() - _T0:.1f} s: imports and inputs {t0 - _T0:.1f} s, "
          f"session stop {time.perf_counter() - t_stop:.1f} s", file=sys.stderr)
    result = report(rec, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
