"""Per-thread CPU split of the Spark JVM over the passes of a perfbench
workload: which JVM threads spend the CPU of each operator call.

    python tools/jvm_threads.py --workload etl --seed 1 --passes 6
    python tools/jvm_threads.py --workload etl --seed 1 --json out.json

Run it from the repository root.  It builds the workload with
``perfbench/workloads.py`` in a session from ``perfbench/run.py``'s
``make_session`` (both imported, not changed), then runs ``--passes``
passes over the workload's operators, pass 0 cold.  Around each
operator's construction (``Op.build``: plan building plus its eager
jobs) and its execution (the ``noop`` sink) it reads the CPU of every
JVM thread from ``/proc/<jvm>/task/*/stat`` and sorts the delta into:

  * ``compiler`` — HotSpot's C1/C2 JIT threads.  HotSpot starts and
    stops compiler threads on demand, so a delta keyed by thread name
    can go negative; instead, threads are keyed by (tid, start time),
    and the CPU of threads that exited during the interval (the process
    total minus the sum of the live threads) is counted here too;
  * ``py4j`` — unnamed ``Thread-N`` threads: py4j's gateway connections,
    where the driver's DataFrame calls build and analyze plans;
  * ``executor`` — Spark's ``Executor task launch`` threads;
  * ``gc`` — G1 and parallel GC workers;
  * ``other`` — every other JVM thread (VM thread, AQE stage creators,
    schedulers, netty, listeners).

Beside them: ``jvm`` (their sum), ``jit_ms`` (HotSpot's own
compilation-time counter, ``CompilationMXBean``), ``janino`` (classes
Spark's code generator compiled, ``CodegenMetrics``: a warm call that
hits Spark's codegen cache compiles none), ``classes`` (classes the JVM
loaded, ``ClassLoadingMXBean``), ``driver`` (this Python process),
``workers`` (the JVM's Python worker processes) and ``tasks`` (the
Spark tasks the phase ran: each phase runs in a job group of its own,
and once the listener bus is drained the status tracker gives its jobs'
stages; a stage counts its completed tasks once, in the first phase
that lists it, as a later job lists a reused shuffle stage as skipped).
``workers / tasks`` reads as Python worker CPU per task.
The tables give each operator phase of each pass, each pass's total,
and the median per operator phase over the warm passes (1 and later).
CPU is read from ``/proc`` in clock ticks, so a figure is good to about
10 ms.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run as perfbench_run  # noqa: E402
from tracing import tree_cpu_s  # noqa: E402
from workloads import BUILDERS  # noqa: E402

CATEGORIES = ("compiler", "py4j", "executor", "gc", "other")
COLUMNS = CATEGORIES + ("jvm", "jit_ms", "janino", "classes", "driver", "workers",
                        "tasks")
_COUNTS = ("jit_ms", "janino", "classes")
_TICK = os.sysconf("SC_CLK_TCK")


def category(name: str) -> str:
    """The category of a JVM thread from its (15-character) comm name."""
    if "CompilerThre" in name:
        return "compiler"
    if re.fullmatch(r"Thread-\d+", name):
        return "py4j"
    if name.startswith("Executor task"):
        return "executor"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def _stat(path: str) -> list:
    """The fields of a ``/proc`` stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def snapshot(jvm_pid: int, jvm) -> dict:
    """CPU ticks of every live JVM thread, keyed by (tid, start time),
    and of the whole process, plus the JIT, codegen and class-loading
    counters and the CPU seconds of the driver and of the process
    tree."""
    mgmt = jvm.java.lang.management.ManagementFactory
    threads = {}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            fields = _stat(f"{task_dir}/{tid}/stat")
            with open(f"{task_dir}/{tid}/comm") as f:
                name = f.read().strip()
        except OSError:  # the thread exited while we read
            continue
        threads[(int(tid), int(fields[19]))] = (name, int(fields[11]) + int(fields[12]))
    proc = _stat(f"/proc/{jvm_pid}/stat")
    t = os.times()
    return {
        "threads": threads,
        "proc": int(proc[11]) + int(proc[12]),
        "jit_ms": mgmt.getCompilationMXBean().getTotalCompilationTime(),
        "janino": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "classes": mgmt.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "tree_s": tree_cpu_s(jvm_pid),
        "driver_s": t.user + t.system,
    }


def split(a: dict, b: dict) -> dict:
    """The per-category CPU seconds between snapshots ``a`` and ``b``."""
    out = dict.fromkeys(CATEGORIES, 0.0)
    live = 0
    for key, (name, ticks) in b["threads"].items():
        d = ticks - a["threads"].get(key, (name, 0))[1]
        out[category(name)] += d / _TICK
        live += d
    # threads gone by ``b`` (HotSpot's on-demand compiler threads)
    out["compiler"] += (b["proc"] - a["proc"] - live) / _TICK
    jvm = (b["proc"] - a["proc"]) / _TICK
    out.update(jvm=jvm, **{c: float(b[c] - a[c]) for c in _COUNTS},
               driver=b["driver_s"] - a["driver_s"],
               workers=b["tree_s"] - a["tree_s"] - jvm)
    return out


def count_tasks(sc, group: str, seen: set) -> int:
    """Completed tasks of the stages of job group ``group``'s jobs that
    are not in ``seen``, which gains them."""
    tracker = sc.statusTracker()
    jobs = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
    stages = {s for job in jobs if job is not None for s in job.stageIds} - seen
    seen |= stages
    infos = (tracker.getStageInfo(s) for s in stages)
    return sum(info.numCompletedTasks for info in infos if info is not None)


def run_passes(spark, wl, passes: int) -> list:
    """Rows ``{"pass", "op", "phase", <COLUMNS>}``, two per operator call."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    rows, seen = [], set()
    for i in range(passes):
        perfbench_run.release_checkpoints(sc)
        for op in wl.ops:
            groups = [f"jvm_threads {i} {op.name} {phase}"
                      for phase in ("construct", "execute")]
            s0 = snapshot(jvm_pid, jvm)
            sc.setJobGroup(groups[0], groups[0])
            b = op.build()
            s1 = snapshot(jvm_pid, jvm)
            sc.setJobGroup(groups[1], groups[1])
            b.sink.write.mode("overwrite").format("noop").save()
            s2 = snapshot(jvm_pid, jvm)
            sc.setJobGroup(None, None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            for phase, (a, z), g in zip(("construct", "execute"),
                                        ((s0, s1), (s1, s2)), groups):
                rows.append({"pass": i, "op": op.name, "phase": phase, **split(a, z),
                             "tasks": float(count_tasks(sc, g, seen))})
    return rows


def pass_totals(rows: list) -> list:
    """Every column summed over the operator phases of each pass."""
    return [{"pass": i, "op": "(all)", "phase": "(all)",
             **{c: sum(r[c] for r in rows if r["pass"] == i) for c in COLUMNS}}
            for i in dict.fromkeys(r["pass"] for r in rows)]


def summarize(rows: list) -> list:
    """Median of every column per (op, phase) over the warm passes."""
    warm = [r for r in rows if r["pass"] > 0] or rows
    keys = list(dict.fromkeys((r["op"], r["phase"]) for r in warm))
    return [{"op": op, "phase": phase,
             **{c: statistics.median(r[c] for r in warm
                                     if (r["op"], r["phase"]) == (op, phase))
                for c in COLUMNS}}
            for op, phase in keys]


def print_table(title: str, rows: list) -> None:
    print(title)
    print(f"{'pass':>4} {'op':<28} {'phase':<9} "
          + " ".join(f"{c:>8}" for c in COLUMNS))
    for r in rows:
        cells = " ".join(f"{r[c]:8.0f}" if c in _COUNTS + ("tasks",) else f"{r[c]:8.3f}"
                         for c in COLUMNS)
        print(f"{str(r.get('pass', 'med')):>4} {r['op']:<28} {r['phase']:<9} {cells}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(BUILDERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--passes", type=int, default=6, help="passes, pass 0 cold (default 6)")
    p.add_argument("--cores", type=int, default=perfbench_run.host_cores())
    p.add_argument("--json", help="also write every row and the summary here")
    args = p.parse_args(argv)
    if args.passes < 1:
        p.error("--passes must be at least 1")

    work = tempfile.mkdtemp(prefix="jvm_threads-")
    perfbench_run.prepare_env(work)
    t = time.perf_counter()
    spark = perfbench_run.make_session(work, args.cores, event_log=False)
    try:
        wl = BUILDERS[args.workload](spark, args.seed, os.path.join(work, "data"),
                                     2 * args.cores)
        rows = run_passes(spark, wl, args.passes)
    finally:
        perfbench_run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    summary = summarize(rows)
    print_table(f"jvm_threads {wl.name} seed={args.seed} local[{args.cores}]: "
                "CPU seconds per operator phase", rows)
    print()
    print_table("per pass", pass_totals(rows))
    print()
    print_table("median over warm passes", summary)
    print(f"({time.perf_counter() - t:.0f} s)")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "cores": args.cores,
                       "rows": rows, "passes": pass_totals(rows),
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
