"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Closed loop: one client (this process)
runs one pass at a time on ``local[nproc]``.

1. Set-up: start the session, generate and write the inputs three times
   (the median counts), run the warm-up pass.  ``setup_s`` is process
   start to ready: session + median input generation + warm-up pass.
2. The warm-up pass is checked against the oracle (outside any timing).
3. Untraced passes run while the next one is expected to end within
   ``--seconds`` (at least one); ``pass_cpu_s`` is the median of their
   CPU seconds (user + system) summed over this process, the JVM and
   the Python workers.  On a shared 4-vCPU host the other tenants
   stretched a kg pass's wall time from 13.9 to 20.4 s between runs
   while its CPU time moved by 5%, so the wall time goes to stderr
   and to the traced run only.  The pass after the warm-up still pays
   for JIT compilation (the JVM's compiler threads took 9-13 of its
   ~41 CPU seconds), so later passes need less CPU.  The
   outputs are checked after the timed region, and the workload's
   ``verify`` may add checked passes of its own.  At the run length in
   ``BENCHMARK.json`` a warm pass is longer than half of ``--seconds``,
   so one pass is timed per run.
4. ``--trace 1`` enables the Spark event log and runs untraced, then
   traced passes (``--seconds / 2`` each block).  Traced passes
   record spans around the public boundaries and set a job group per
   span; the event log then attributes Spark work to layers.  The
   traced block runs after the untraced one, so ``trace.overhead_s``
   and ``trace.overhead_cpu_s`` also carry the JIT warming between the
   two (the CPU one reads below zero).

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` passes, and ``metrics`` (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``), each as ``{"value", "unit"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import Dict  # noqa: E402

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Passes:
    """Runs passes closed-loop, checks them afterwards, counts failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.cpus: Dict[str, float] = {}

    def record(self, problems) -> None:
        self.attempted += 1
        for p in problems:
            log(p)
        self.failed += bool(problems)

    def run(self, seconds: float, prefix: str, tracer=None) -> Dict[str, float]:
        """Passes while the next is expected to end within ``seconds`` (at
        least one): wall per pass id."""
        from perfbench import benv

        walls, handles = {}, []
        deadline = time.perf_counter() + seconds
        i, last = 0, 0.0
        while not walls or time.perf_counter() + last < deadline:
            pass_id = f"{prefix}{i}"
            i += 1
            if tracer is not None:
                tracer.pass_id = pass_id
            c0 = benv.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                handles.append(self.wl.run_pass(pass_id, tracer))
                walls[pass_id] = last = time.perf_counter() - t0
                self.cpus[pass_id] = benv.tree_cpu_s() - c0
            except Exception:  # a failed pass counts; the run goes on
                self.record([f"pass {pass_id} failed:\n{traceback.format_exc()}"])
                if i >= 3 and not walls:
                    raise RuntimeError("no pass succeeded")
        for h in handles:
            self.record(self.wl.check(h))
        return walls


def trace_metrics(wl, tracer, groups, twalls, uwalls, cpus, steal, probes) -> Dict[str, float]:
    from perfbench.workloads import per_layer_units

    values = {name: 0.0 for name in per_layer_units()}
    per_pass = [wl.layer_metrics(tracer, groups, p) for p in twalls]
    for name in per_pass[0]:
        values[name] = statistics.median(pp[name] for pp in per_pass)
    traced = statistics.median(twalls.values())
    untraced = statistics.median(uwalls.values())
    traced_cpu = statistics.median(cpus[p] for p in twalls)
    untraced_cpu = statistics.median(cpus[p] for p in uwalls)
    coverage = [sum(s.dur for _i, s in tracer.top_spans(p)) / w for p, w in twalls.items()]
    values.update({
        "env.probe_s": statistics.mean(probes),
        "env.steal_frac": steal,
        "trace.pass_s": traced,
        "trace.untraced_pass_s": untraced,
        "trace.overhead_s": traced - untraced,
        "trace.pass_cpu_s": traced_cpu,
        "trace.untraced_pass_cpu_s": untraced_cpu,
        "trace.overhead_cpu_s": traced_cpu - untraced_cpu,
        "trace.coverage": statistics.median(coverage),
    })
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(CHECKOUT, "arabicner_spark", "plans", "pipeline.py")):
        print(f"perfbench: no arabicner_spark package under {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench import benv
    from perfbench.spans import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS, per_layer_units

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    root = benv.RunRoot(CHECKOUT)
    spark = None
    try:
        probes = [benv.md5_probe_s()]
        spark = benv.start_session(CHECKOUT, root, event_log=bool(args.trace))
        session_s = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](args.seed, root)
        gen = []
        for k in range(GEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate(k)
            gen.append(time.perf_counter() - t0)
        wl.prepare(spark)
        passes = Passes(wl)
        passes.record(wl.warm_up())
        setup_s = session_s + statistics.median(gen) + wl.warm_s
        log(f"{wl.name} seed={args.seed} cores={benv.cores()} setup_s={setup_s:.2f} "
            f"(session {session_s:.2f}, inputs {statistics.median(gen):.2f}, warm-up {wl.warm_s:.2f})")

        block_s = args.seconds / 2 if args.trace else args.seconds
        benv.reset_tree_peak_rss()
        cpu0 = benv.cpu_times()
        walls = passes.run(block_s, "t")
        steal = benv.steal_frac(cpu0, benv.cpu_times())
        peak_rss_mb = benv.tree_peak_rss_mb()
        log(f"untraced passes: {[round(w, 3) for w in walls.values()]} cpu "
            f"{[round(passes.cpus[p], 2) for p in walls]} steal {steal:.3f}")
        for problems in wl.verify():
            passes.record(problems)

        if not args.trace:
            pass_cpu_s = statistics.median(passes.cpus[p] for p in walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_cpu_s": (pass_cpu_s, "s"),
                "turns_per_cpu_s": (wl.turns / pass_cpu_s, "1/s"),
                "triples_per_cpu_s": (wl.triples / pass_cpu_s, "1/s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        else:
            tracer = Tracer(spark.sparkContext)
            with tracer.installed(wl.patches()):
                twalls = passes.run(block_s, "x", tracer)
            fixed = wl.fixed_metrics(tracer)
            log(f"traced passes: {[round(w, 3) for w in twalls.values()]}, "
                f"untraced: {[round(w, 3) for w in walls.values()]}")
            spark.stop()  # flushes the event log
            spark = None
            probes.append(benv.md5_probe_s())
            groups = parse_event_log(benv.event_log_file(root))
            values = trace_metrics(wl, tracer, groups, twalls, walls, passes.cpus, steal, probes)
            values.update(fixed)
            metrics = {name: (values[name], unit) for name, unit in per_layer_units().items()}
        result = {
            "correct": passes.failed == 0,
            "attempted": passes.attempted,
            "failed": passes.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        benv.shutdown(spark)
        root.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
