"""Spark jobs and codegen compilations per stage of a warm pass.

    python tools/pass_profile.py [--workload kg_open_vocab|registry_sf0.01] [--seed 1] [--passes 3]

Run from the repository root.  Uses the benchmark's workloads
(``perfbench/workloads.py``): their seeded inputs, the checked warm-up
pass, then ``--passes`` warm passes.  Each pipeline stage
(``StageRunner.run``) or registry query runs under its own job group;
per stage the tool prints the Spark jobs of the group
(``statusTracker().getJobIdsForGroup``) and the codegen compilations
it caused (the count delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``,
which moves only on a codegen cache miss).  The last warm pass is the
steady state: what it still compiles is what the cache cannot hold.
Jobs and wall seconds are the last pass's; the warm-up's compilations
count every distinct class the pass generates.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from typing import Dict, List, Tuple

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Profiler:
    """Per (pass, stage): jobs, compilations, wall seconds."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.pass_id = ""
        self.rows: Dict[str, List[Tuple[str, int, int, float]]] = {}

    def compilations(self) -> int:
        return int(self.codegen.METRIC_COMPILATION_TIME().getCount())

    def stage(self, name: str, fn):
        group = f"{self.pass_id}:{name}"
        self.sc.setJobGroup(group, group)
        c0, t0 = self.compilations(), time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.rows.setdefault(self.pass_id, []).append((name, jobs, self.compilations() - c0, wall))
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
        print(f"{'stage':<28}{'jobs':>6}" + "".join(f"{'compiled:' + p:>18}" for p in passes)
              + f"{'wall_s':>9}")
        totals = [0] * (len(passes) + 2)
        for k, (name, jobs, _c, wall) in enumerate(prof.rows[last]):
            comps = [prof.rows[p][k][2] if k < len(prof.rows[p]) else 0 for p in passes]
            cells = [jobs, *comps, wall]
            totals = [t + c for t, c in zip(totals, cells)]
            print(f"{name:<28}{jobs:>6}" + "".join(f"{c:>18}" for c in comps) + f"{wall:>9.2f}")
        print(f"{'total':<28}{totals[0]:>6}" + "".join(f"{c:>18}" for c in totals[1:-1])
              + f"{totals[-1]:>9.2f}")
        print("correct" if not problems else "INCORRECT:\n" + "\n".join(problems))
        return 0 if not problems else 1
    finally:
        benv.shutdown(spark)
        root.close()


if __name__ == "__main__":
    sys.exit(main())
