"""Scaling-efficiency evidence (north rule: >=0.8 from N to 4N
executors; sandbox substitute = same job, same input, local[N/4] vs
local[N], N the CPUs this process may run on).

Parent mode: generates one deterministic synthetic transcript corpus,
writes it to parquet, then runs the FULL KG pipeline (NER -> triples ->
linking -> edges/nodes) in a fresh subprocess per parallelism level and
rewrites BENCH/BASELINE.md with throughput at both levels + efficiency.

Worker mode (--worker): one timed pipeline run; prints one JSON line.

Usage: python tools/bench_scaling.py [--convs 1200] [--levels N/4,N]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arabicner_spark.session import session  # noqa: E402

# N/4 and N cores, N the CPUs this process may run on: a level past N
# oversubscribes, because taskset masks to the CPUs that exist
_CPUS = len(os.sched_getaffinity(0))
LEVELS = f"{max(_CPUS // 4, 1)},{_CPUS}"


def worker(cores: int, input_path: str, out_root: str) -> None:
    from arabicner_spark.plans.pipeline import PipelineConfig, run_pipeline
    from arabicner_spark.sources import synth

    # shuffle width follows the leg's cores, like the salt width below
    spark = session(f"local[{cores}]", shuffle_partitions=2 * cores)

    transcripts = spark.read.parquet(input_path)
    n_turns = transcripts.count()  # force the scan before the clock

    cfg = PipelineConfig(
        gazetteer=synth.gazetteer_dict(),
        alias_rows=synth.make_alias_rows(),
        salt_partitions=2 * cores,
    )
    t0 = time.time()
    tables = run_pipeline(
        spark, transcripts, cfg, out_root, run_id=f"bench{cores}",
        input_snapshot=f"{input_path}:{cores}",
    )
    n_triples = tables["edges"].count()
    wall = time.time() - t0
    print(json.dumps({
        "cores": cores, "wall_s": round(wall, 2), "turns": n_turns,
        "triples": n_triples,
        "turns_per_sec": round(n_turns / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
    }))
    spark.stop()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--worker", action="store_true")
    p.add_argument("--cores", type=int)
    p.add_argument("--input")
    p.add_argument("--out")
    p.add_argument("--convs", type=int, default=1200)
    p.add_argument("--levels", default=LEVELS)
    args = p.parse_args()

    if args.worker:
        worker(args.cores, args.input, args.out)
        return

    import tempfile

    work = tempfile.mkdtemp(prefix="kg_scaling_")
    input_path = args.input or os.path.join(work, "transcripts")
    if args.input:
        _run_levels(args, work, input_path)
        return
    # generate once (deterministic), write parquet shared by both runs
    import pandas as pd

    from arabicner_spark import schemas
    from arabicner_spark.sources import synth

    spark = session()
    rows = synth.make_transcript_rows(n_convs=args.convs, seed=42)
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})
    df = spark.createDataFrame(pdf, schemas.TRANSCRIPTS)  # Arrow path
    df.repartition(64).write.mode("overwrite").parquet(input_path)
    spark.stop()
    _run_levels(args, work, input_path)


def pinned_runs(script: str, levels: str, leg_args) -> list:
    """One ``script --worker --cores N *leg_args(N)`` process per level;
    the JSON line each prints."""
    results = []
    for cores in [int(x) for x in levels.split(",")]:
        cmd = [sys.executable, script, "--worker", "--cores", str(cores), *leg_args(cores)]
        # Pin the whole worker (JVM task threads, GC, parquet writers,
        # Python workers) to exactly `cores` CPUs — a real N-core
        # executor is capped like this, while an unpinned local[N] JVM
        # quietly borrows idle cores for its service threads and
        # flatters the small leg of the scaling comparison.
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["/usr/bin/taskset", "-c", f"0-{cores - 1}"] + cmd
        proc = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not line:
            print("WORKER FAILED:", proc.stdout[-2000:], proc.stderr[-2000:])
            sys.exit(1)
        results.append(json.loads(line[-1]))
        print(results[-1])
    return results


def _run_levels(args, work: str, input_path: str) -> None:
    results = pinned_runs(
        os.path.abspath(__file__), args.levels,
        lambda c: ["--input", input_path, "--out", os.path.join(work, f"out_{c}")],
    )

    lo, hi = results[0], results[-1]
    ratio = hi["cores"] / lo["cores"]
    speedup = lo["wall_s"] / hi["wall_s"]
    eff = speedup / ratio
    md = f"""# BENCH — throughput & scaling evidence

Full KG pipeline (NER mapInPandas -> triples -> linking/LSH/CC ->
edges+nodes, all checkpointed through StageRunner) on the deterministic
synthetic transcript corpus ({args.convs} conversations, {lo['turns']}
turns, seed 42), same parquet input for both parallelism levels —
the sandbox substitute for N vs 4N executors per driver instruction.

| parallelism | wall (s) | turns/sec | triples/sec |
|---|---|---|---|
| local[{lo['cores']}] | {lo['wall_s']} | {lo['turns_per_sec']} | {lo['triples_per_sec']} |
| local[{hi['cores']}] | {hi['wall_s']} | {hi['turns_per_sec']} | {hi['triples_per_sec']} |

**Speedup {lo['cores']}->{hi['cores']} cores ({ratio:.0f}x): {speedup:.2f}x;
scaling efficiency = {speedup:.2f}/{ratio:.0f} = {eff:.2f}**
(north-rule target >= 0.8).

Methodology: each worker is a fresh process pinned with
`taskset -c 0-(N-1)` so the N-core leg's JVM service threads and
Python workers cannot borrow idle cores (a real N-core executor is
capped the same way); the clock starts after the session is up and the
input scan is forced, and covers all five checkpointed stages.
Per-stage wall times land in each run's `_metrics` table.

Reproduce: `python tools/bench_scaling.py --convs {args.convs}`.
Headline per-query timings at sf0.1: `python bench.py` (see BENCH_r*.json).
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    target = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve manually-curated sections: only the auto-generated top
    # (everything before the first preserved heading) is replaced
    keep = ""
    if os.path.exists(target):
        cur = open(target).read()
        idx = cur.find("## Measurement variance")
        if idx != -1:
            keep = cur[idx:]
    with open(target, "w") as f:
        f.write(md + ("\n" + keep if keep else ""))
    print(md)


if __name__ == "__main__":
    main()
