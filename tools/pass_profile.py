"""Spark jobs and codegen compilations per stage of a warm pass.

    python tools/pass_profile.py [--workload kg_open_vocab|registry_sf0.01] [--seed 1] [--passes 3]

Run from the repository root.  Uses the benchmark's workloads
(``perfbench/workloads.py``): their seeded inputs, the checked warm-up
pass, then ``--passes`` warm passes.  Each pipeline stage
(``StageRunner.run``) or registry query runs under its own job group;
per stage the tool prints the Spark jobs of the group
(``statusTracker().getJobIdsForGroup``) and the codegen compilations
it caused (the count delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``,
which moves only on a codegen cache miss), plus its CPU seconds: the
process tree's (the ``perfbench.benv.tree_cpu_s`` delta), split into
this driver process, the JVM and the Python side (the rest of the tree:
the pyspark daemon and its workers, whose reaped CPU lands in the
daemon's), and the JVM's JIT compiler threads' (``C1/C2 CompilerThre``
tasks under ``/proc/<jvm>/task``).  The split reads only ``/proc`` and
costs no Spark job.
The JIT figure is a lower bound: HotSpot retires idle compiler
threads, and a retired thread's CPU is no longer readable.  The last
warm pass is the steady state: what it still compiles is what the
cache cannot hold.  Jobs, seconds and CPU are the last pass's; the
warm-up's compilations count every distinct class the pass generates.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from typing import Dict, List, Tuple

JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut to 15 chars

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jit_ticks(jvm_pid: int) -> Dict[int, int]:
    """utime + stime in clock ticks of each live JIT compiler thread."""
    out = {}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the thread exited
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if comm in JIT_THREADS:
            fields = rest.split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def cpu_split(jvm_pid: int) -> Tuple[float, float, float]:
    """CPU seconds so far, reaped children included, of this process,
    of the JVM and of the Python side: the rest of the benchmark's
    process tree (``benv.tree_cpu_s``).  The reads are taken one after
    another, so a stage's Python delta can be off by a clock tick and
    read -0.01 s."""
    from perfbench import benv

    with open(f"/proc/{jvm_pid}/stat") as f:
        jvm = sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15]) / os.sysconf("SC_CLK_TCK")
    driver = sum(os.times()[:4])
    return driver, jvm, benv.tree_cpu_s() - driver - jvm


class Profiler:
    """Per (pass, stage): jobs, compilations, wall seconds, CPU seconds
    of the tree and of its driver, JVM and Python parts, JIT CPU
    seconds."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.pass_id = ""
        self.rows: Dict[str, List[Tuple]] = {}

    def compilations(self) -> int:
        return int(self.codegen.METRIC_COMPILATION_TIME().getCount())

    def jit_s(self, before: Dict[int, int]) -> float:
        """JIT CPU since ``before`` of the compiler threads alive now."""
        now = jit_ticks(self.jvm_pid)
        return sum(t - before.get(tid, 0) for tid, t in now.items()) / os.sysconf("SC_CLK_TCK")

    def stage(self, name: str, fn):
        group = f"{self.pass_id}:{name}"
        self.sc.setJobGroup(group, group)
        c0, j0, cpu0, t0 = self.compilations(), jit_ticks(self.jvm_pid), cpu_split(self.jvm_pid), time.perf_counter()
        try:
            return fn()
        finally:
            wall, jit = time.perf_counter() - t0, self.jit_s(j0)
            parts = [b - a for a, b in zip(cpu0, cpu_split(self.jvm_pid))]
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.rows.setdefault(self.pass_id, []).append(
                (name, jobs, self.compilations() - c0, wall, sum(parts), *parts, jit)
            )
            self.sc.setJobGroup(f"{self.pass_id}:-", "")

    def run_pass(self, wl, pass_id: str) -> List[str]:
        """One pass of ``wl`` with every stage under ``stage``; returns
        the pass's problems."""
        self.pass_id = pass_id
        if hasattr(wl, "queries"):
            for q, (fn, _sql) in wl.queries.items():
                self.stage(q, lambda: fn(wl.spark, wl.tables_dir).write.format("noop").mode("overwrite").save())
            return []
        return wl.check(wl.run_pass(pass_id))

    def install(self) -> None:
        """Route every pipeline stage (``StageRunner.run``) through ``stage``."""
        from arabicner_spark.plans.lineage import StageRunner

        run = StageRunner.run
        StageRunner.run = lambda runner, stage, *a, **k: self.stage(stage, lambda: run(runner, stage, *a, **k))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="kg_open_vocab")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3, help="warm passes after the warm-up")
    args = ap.parse_args()
    sys.path.insert(0, CHECKOUT)
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench import benv
    from perfbench.workloads import WORKLOADS

    root = benv.RunRoot(CHECKOUT)
    spark = None
    try:
        spark = benv.start_session(CHECKOUT, root, event_log=False)
        wl = WORKLOADS[args.workload](args.seed, root)
        wl.generate(0)
        wl.prepare(spark)
        prof = Profiler(spark)
        prof.install()
        prof.pass_id = "warm-up"
        problems = list(wl.warm_up())
        for i in range(1, args.passes + 1):
            problems += prof.run_pass(wl, f"pass{i}")
        for p in wl.verify():
            problems += p

        print(f"{args.workload} seed={args.seed} cores={benv.cores()}")
        passes = list(prof.rows)
        last = passes[-1]
        secs = ("wall_s", "cpu_s", "driver_s", "jvm_s", "python_s", "jit_cpu_s>=")
        print(f"{'stage':<28}{'jobs':>6}" + "".join(f"{'compiled:' + p:>18}" for p in passes)
              + "".join(f"{h:>12}" for h in secs))
        totals = [0] * (len(passes) + 1 + len(secs))
        for k, (name, jobs, _c, *sec) in enumerate(prof.rows[last]):
            comps = [prof.rows[p][k][2] if k < len(prof.rows[p]) else 0 for p in passes]
            totals = [t + c for t, c in zip(totals, [jobs, *comps, *sec])]
            print(f"{name:<28}{jobs:>6}" + "".join(f"{c:>18}" for c in comps)
                  + "".join(f"{x:>12.2f}" for x in sec))
        n = len(passes) + 1
        print(f"{'total':<28}{totals[0]:>6}" + "".join(f"{c:>18}" for c in totals[1:n])
              + "".join(f"{x:>12.2f}" for x in totals[n:]))
        print("correct" if not problems else "INCORRECT:\n" + "\n".join(problems))
        return 0 if not problems else 1
    finally:
        benv.shutdown(spark)
        root.close()


if __name__ == "__main__":
    sys.exit(main())
