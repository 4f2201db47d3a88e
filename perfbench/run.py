#!/usr/bin/env python3
"""proj_spark benchmark: two seeded, closed-loop batch workloads.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 16 --trace 0

Run it from the repository root.  One client issues one operator call at
a time against ``local[<cores of this host>]``; every output is sunk to
the ``noop`` format.  Workloads and their input sizes are described in
``perfbench/WORKLOADS.md``.

``--trace 0`` reports the end-to-end metrics (rows_per_ref_cpu_s,
setup_s, peak_rss_mb), rescaled to a reference host speed, and prints
the unscaled figures beside them.
``--trace 1`` alternates quiet and traced passes in one session with
Spark's event log on, and reports the per-layer metrics.  The last line
of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it name
every metric with its unit, and ``failed_ratio``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import zlib  # noqa: E402

from tracing import (Tracer, children, missing_udfs, parse_event_log,  # noqa: E402
                     peak_rss_mb, plan_summary, tree_cpu_s)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3  # input set-ups per run; setup_s counts their median
# CPU seconds of calibrate() on the reference host (a 4-vCPU guest in a
# quiet minute); end-to-end times are rescaled to a host of that speed
REF_CAL_S = 0.08
OUT_DIR = os.path.join(ROOT, ".bench_out")

# per-layer quantities reported for each Spark operator call
_SPARK = ("construct_s", "exec_s", "cpu_s", "jobs", "tasks", "executor_cpu_s", "gc_s")
_PY = ("python_run_s", "python_bytes_in", "python_bytes_out")
_JVM = ("eager_jobs", "shuffle_write_bytes")
OP_METRICS = {
    "transform.with_transformed": _SPARK + _PY + ("python_rows_in",),
    "tiles.tile_rollup": _SPARK,
    "joins.pip_join": _SPARK + ("eager_jobs", "python_rows_in", "python_run_s",
                                "python_rows_per_hit"),
    "joins.knn_join": _SPARK + _JVM,
    "joins.radius_join": _SPARK + _JVM,
    "textops.minhash_lsh_groups": _SPARK + _JVM + ("spill_bytes",),
    "imagedup.phash_dedup_groups": _SPARK + _JVM + ("spill_bytes",),
    "images.verify_images": _SPARK + _PY,
    "raster.tile_pyramid": _SPARK + _PY,
}
KERNEL_METRICS = {
    "crs.new_known_crs_s": "s",
    "crs.convert_array.webmerc.points_per_s": "1/s",
    "crs.convert_array.utm.points_per_s": "1/s",
    "crs.convert_array.nad83_lcc.points_per_s": "1/s",
    "cells.np_cell.points_per_s": "1/s",
    "jpeg.decode_jpeg.imgs_per_s": "1/s",
    "images.phash64_batch.imgs_per_s": "1/s",
}
QUANTITY_UNITS = {
    "construct_s": "s", "exec_s": "s", "cpu_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "python_run_s": "s", "jobs": "count", "eager_jobs": "count", "tasks": "count",
    "python_rows_in": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "python_bytes_in": "B", "python_bytes_out": "B", "python_rows_per_hit": "ratio",
}


def per_layer_names() -> list:
    names = list(KERNEL_METRICS)
    for op, qs in OP_METRICS.items():
        names += [f"{op}.{q}" for q in qs]
    return names + ["trace.overhead_ratio"]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of host RAM, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return min(4096, total_kb // 4096)


def prepare_env(work: str) -> None:
    """Point every scratch path of Spark and its Python workers inside
    ``work``; workers import proj_spark and the workload module from the
    checkout whatever their working directory."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def make_session(work: str, cores: int, event_log: bool):
    from pyspark.sql import SparkSession

    heap = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{heap}m -Xmn256m")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        b = (b.config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def shutdown(spark) -> None:
    """Stop Spark, then end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------
class Calls:
    """Operator calls attempted and failed, per operator."""

    def __init__(self, ops):
        self.calls = {op.name: 0 for op in ops}
        self.raised = {op.name: 0 for op in ops}
        self.bad = set()  # operators whose plan guard or output check failed

    def attempted(self) -> int:
        return sum(self.calls.values())

    def failed(self) -> int:
        return sum(self.calls[op] if op in self.bad else self.raised[op]
                   for op in self.calls)


def cpu_clock(spark):
    """A clock of the CPU seconds used by this process, the Spark JVM and
    the JVM's Python workers.  Unlike wall time, it does not count time
    the host gives to other guests or processes."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def now() -> float:
        t = os.times()
        return t.user + t.system + tree_cpu_s(jvm_pid)
    return now


def run_pass(wl, tracer, clock, tag: str, calls=None, guard=None):
    """One pass over the workload's operator sequence; returns the
    output, and the wall and CPU seconds, of each operator call that did
    not raise."""
    built, times = {}, {}
    with tracer.span("pass", tag):
        for op in wl.ops:
            if calls is not None:
                calls.calls[op.name] += 1
            t, c = time.perf_counter(), clock()
            try:
                with tracer.span(op.name, "call"):
                    with tracer.span(op.name, "construct", f"{tag}|{op.name}|construct"):
                        b = op.build()
                    if guard is not None:
                        guard[op.name] = plan_summary(b.sink)
                    with tracer.span(op.name, "execute", f"{tag}|{op.name}|execute"):
                        b.sink.write.mode("overwrite").format("noop").save()
                built[op.name] = b
                times[op.name] = {"wall_s": time.perf_counter() - t, "cpu_s": clock() - c}
            except Exception:
                traceback.print_exc(file=sys.stderr)
                if calls is not None:
                    calls.raised[op.name] += 1
    return built, times


def release_checkpoints(sc) -> None:
    """Drop the RDD blocks earlier operator calls checkpointed and
    collect the driver heap, so every pass starts from the same memory
    state."""
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    sc._jvm.java.lang.System.gc()


def warm_up(spark, wl, tracer, clock, calls) -> dict:
    """Untimed: a cold pass that records the plan guard, then each
    operator's output check, which runs its plan once more.  Returns the
    plan guard."""
    guard = {}
    release_checkpoints(spark.sparkContext)
    built, _ = run_pass(wl, tracer, clock, "cold", guard=guard)
    if tracer.enabled:
        spark.sparkContext.setJobGroup("check", "output checks")
    for op in wl.ops:
        if op.name in built:
            check_op(op, built[op.name], guard[op.name], calls)
    return guard


def calibrate() -> float:
    """CPU seconds of a fixed single-threaded task (a numpy sort, zlib
    and a pure-Python loop), which measure how fast this host runs at
    the moment.  The same work on every run and commit."""
    import numpy as np

    rng = np.random.default_rng(12345)
    values = rng.random(1_000_000)
    data = rng.integers(0, 16, 1_000_000, dtype=np.uint8).tobytes()
    t = time.process_time()
    np.sort(values, kind="quicksort")
    zlib.compress(data, 6)
    x = 0
    for i in range(300_000):
        x = (x * 31 + i) % 1_000_003
    return time.process_time() - t


def pass_count(wl, seconds: float) -> int:
    """Passes that fit in ``seconds`` at the workload's nominal pass
    time, at least one.  The count depends on the run length only, so
    every run of a workload, on any commit, makes the same passes."""
    return max(1, int(seconds // wl.pass_s))


def timed_pass(spark, wl, tracer, clock, calls, tag: str):
    release_checkpoints(spark.sparkContext)
    return run_pass(wl, tracer, clock, tag, calls)


def pass_time(passes: list, kind: str) -> float:
    """``wall_s`` or ``cpu_s`` of a typical pass: the sum over operators
    of each one's median call time across the passes."""
    ops = {op for p in passes for op in p}
    return sum(statistics.median(p[op][kind] for p in passes if op in p) for op in ops)


def check_op(op, b, summary: dict, calls) -> None:
    """Plan guard and output check of one operator call; a failure of
    either counts every call of the operator as failed."""
    missing = missing_udfs(summary, op.udfs)
    msgs = [f"plan guard: {op.name} plan lacks {missing}"] if missing else []
    try:
        msgs += op.check(b)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        msgs.append(f"{op.name}: output check raised")
    for m in msgs:
        print(f"check failed: {m}", file=sys.stderr)
    if msgs:
        calls.bad.add(op.name)


# ---------------------------------------------------------------------------
# in-process kernels (traced run)
# ---------------------------------------------------------------------------
def kernel_metrics(seed: int) -> dict:
    import numpy as np

    from proj_spark.crs import Transform
    from proj_spark.operators.cells import np_cell
    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.images import phash64_batch
    from proj_spark.sources.jpeg import decode_jpeg, encode_jpeg

    def med_time(fn, reps=5):
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts)

    rng = np.random.default_rng([seed, 9])
    n = 400_000
    lon, lat = rng.uniform(-180.0, 180.0, n), rng.uniform(-80.0, 80.0, n)
    # California zone 6 (US survey feet) around its false origin
    fe, fn_ = rng.uniform(6.0e6, 6.6e6, n), rng.uniform(1.7e6, 2.1e6, n)
    pairs = {"webmerc": ("EPSG:4326", "EPSG:3857", lon, lat),
             "utm": ("EPSG:4326", "EPSG:32633", lon, lat),
             "nad83_lcc": ("EPSG:2230", "EPSG:26946", fe, fn_)}
    out = {"crs.new_known_crs_s": med_time(
        lambda: [Transform.new_known_crs(s, d) for s, d, _, _ in pairs.values()],
        reps=15) / len(pairs)}
    for label, (s, d, x, y) in pairs.items():
        t = Transform.new_known_crs(s, d)
        out[f"crs.convert_array.{label}.points_per_s"] = n / med_time(
            lambda: t.convert_array(x, y, errors="mask"))
    out["cells.np_cell.points_per_s"] = n / med_time(lambda: np_cell(lon, lat, 12))
    dims = rng.integers(16, 65, (40, 2))
    jpgs = [encode_jpeg(raster_for(int(rng.integers(1 << 62)), int(w), int(h)),
                        quality=98) for w, h in dims]
    out["jpeg.decode_jpeg.imgs_per_s"] = len(jpgs) / med_time(
        lambda: [decode_jpeg(j) for j in jpgs], reps=3)
    tiles = [rng.integers(0, 256, (400,) + shape + (3,), dtype=np.uint8)
             for shape in ((16, 16), (7, 16), (16, 3))]
    out["images.phash64_batch.imgs_per_s"] = sum(len(t) for t in tiles) / med_time(
        lambda: [phash64_batch(t) for t in tiles])
    return out


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------
def untraced_run(args, work, cores, build):
    spark = make_session(work, cores, event_log=False)
    try:
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl = build(spark, args.seed, os.path.join(work, "data"), 2 * cores)
            setups.append(time.perf_counter() - t)
        tracer = Tracer(spark.sparkContext, wl.name, False, T0)
        calls = Calls(wl.ops)
        clock = cpu_clock(spark)
        guard = warm_up(spark, wl, tracer, clock, calls)
        first = time.perf_counter()
        # the repeated input set-ups count once, at their median
        setup_s = first - T0 - sum(setups) + statistics.median(setups)
        cal, passes = [], []
        for i in range(pass_count(wl, args.seconds)):
            cal.append(calibrate())
            passes.append(timed_pass(spark, wl, tracer, clock, calls, f"p{i}")[1])
        cal.append(calibrate())
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_mb, worker_mb = peak_rss_mb(jvm_pid)
    finally:
        shutdown(spark)
    # > 1 when this host runs slower than the reference host right now
    slowdown = statistics.median(cal) / REF_CAL_S
    cpu_s = pass_time(passes, "cpu_s")
    metrics = {
        "rows_per_ref_cpu_s": {"value": wl.rows * slowdown / cpu_s, "unit": "rows/cpu_s"},
        "setup_s": {"value": setup_s / slowdown, "unit": "s"},
        "peak_rss_mb": {"value": jvm_mb + worker_mb, "unit": "MB"},
    }
    # as measured, before rescaling: printed and kept, but they follow the
    # host's speed too closely to gate a change on (see WORKLOADS.md)
    shown = {
        "rows_per_s": {"value": wl.rows / pass_time(passes, "wall_s"), "unit": "rows/s"},
        "rows_per_cpu_s": {"value": wl.rows / cpu_s, "unit": "rows/cpu_s"},
        "setup_wall_s": {"value": setup_s, "unit": "s"},
        "host_slowdown": {"value": slowdown, "unit": "ratio"},
    }
    info = {"passes": len(passes), "op_times": passes, "calibrate_s": cal, "setups_s": setups,
            "plan_guard": guard, "rss_mb": {"jvm": jvm_mb, "largest_worker": worker_mb}}
    return wl, calls, metrics, shown, info


def traced_run(args, work, cores, build):
    """One session with Spark's event log on.  After the warm-up, quiet
    passes (no spans, no per-call job groups) alternate with traced
    passes, and the per-layer metrics come from the traced ones."""
    spark = make_session(work, cores, event_log=True)
    try:
        wl = build(spark, args.seed, os.path.join(work, "data"), 2 * cores)
        calls = Calls(wl.ops)
        tracer = Tracer(spark.sparkContext, wl.name, True, T0)
        quiet = Tracer(spark.sparkContext, wl.name, False, T0)
        clock = cpu_clock(spark)
        guard = warm_up(spark, wl, tracer, clock, calls)
        base, traced, built = [], {}, {}
        for i in range(pass_count(wl, args.seconds / 2.0)):
            # alternate which kind runs first, so neither gains more warm-up
            for kind in ("qt" if i % 2 == 0 else "tq"):
                if kind == "q":
                    spark.sparkContext.setJobGroup("quiet", "untraced pass")
                    base.append(timed_pass(spark, wl, quiet, clock, calls, f"q{i}")[1])
                else:
                    built, traced[f"t{i}"] = timed_pass(spark, wl, tracer, clock, calls,
                                                        f"t{i}")
        spark.sparkContext.setJobGroup("hits", "verified output rows")
        hits = {op.name: op.hits(built[op.name]) for op in wl.ops
                if op.hits is not None and op.name in built}
    finally:
        shutdown(spark)
    groups = parse_event_log(os.path.join(work, "events"))
    spans = tracer.with_self_time()
    per_call = op_calls(spans, groups)
    values = {f"{op}.{q}": 0.0 for op, qs in OP_METRICS.items() for q in qs}
    for op, rows in per_call.items():
        for r in rows:
            r["cpu_s"] = traced[r["pass"]].get(op, {}).get("cpu_s", 0.0)
            if hits.get(op):
                r["python_rows_per_hit"] = r.get("python_rows_in", 0.0) / hits[op]
        for q in OP_METRICS.get(op, ()):
            values[f"{op}.{q}"] = statistics.median(r.get(q, 0.0) for r in rows)
    values.update(kernel_metrics(args.seed))
    values["trace.overhead_ratio"] = (pass_time(list(traced.values()), "wall_s")
                                      / pass_time(base, "wall_s"))
    metrics = {k: {"value": values[k], "unit": unit_for_metric(k)} for k in per_layer_names()}
    info = {"quiet_op_times": base, "traced_op_times": traced, "plan_guard": guard,
            "hits": hits, "spans": spans, "groups": groups, "per_call": per_call}
    return wl, calls, metrics, {}, info


def unit_for_metric(name: str) -> str:
    if name in KERNEL_METRICS:
        return KERNEL_METRICS[name]
    if name == "trace.overhead_ratio":
        return "ratio"
    return QUANTITY_UNITS[name.rsplit(".", 1)[1]]


def op_calls(spans, groups) -> dict:
    """Per operator, one dict of quantities per traced call: span times
    plus the event-log metrics of its construct and execute groups."""
    out: dict = {}
    for s in spans:
        if s["phase"] not in ("construct", "execute") or not s["group"].startswith("t"):
            continue
        tag, op, phase = s["group"].split("|")
        row = out.setdefault(op, {}).setdefault(tag, {"pass": tag})
        row["construct_s" if phase == "construct" else "exec_s"] = s["end"] - s["start"]
        g = groups.get(s["group"], {})
        if phase == "construct":
            row["eager_jobs"] = g.get("jobs", 0.0)
        for k, v in g.items():
            row[k] = row.get(k, 0.0) + v
    return {op: list(rows.values()) for op, rows in out.items()}


def main(argv=None) -> int:
    from workloads import BUILDERS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(BUILDERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "proj_spark", "__init__.py")):
        print(f"perfbench: no proj_spark package under {ROOT}", file=sys.stderr)
        return 2

    cores = host_cores()
    work = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    prepare_env(work)
    try:
        run = traced_run if args.trace else untraced_run
        wl, calls, metrics, shown, info = run(args, work, cores, BUILDERS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT_DIR, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(OUT_DIR, f"{kind}-{wl.name}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "cores": cores,
                   "rows": wl.rows, "metrics": metrics,
                   "calls": calls.calls, "raised": calls.raised,
                   "bad": sorted(calls.bad), **info}, f, indent=1, default=str)

    attempted, failed = calls.attempted(), calls.failed()
    print(f"perfbench {wl.name} seed={args.seed} local[{cores}] rows={wl.rows}")
    for name, m in {**metrics, **shown}.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  failed_ratio = {failed / attempted:.6g} ratio ({failed}/{attempted} calls)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
