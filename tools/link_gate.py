"""Time and size link_surfaces' driver map against its distributed steps.

    python tools/link_gate.py [--surfaces 100000 200000] [--reps 3]

Run from the repository root.  The input is ``--surfaces`` distinct
random words of 5-10 letters over 18 Arabic letters (seeded; three in
ten come with a one-letter-deletion variant), linked against the
synthetic alias dictionary: a dense vocabulary, whose candidate pairs
grow with the square of its size.  Each (size, path, rep) runs in a
fresh process with the benchmark's session (``perfbench.benv``): both
paths link 2,000 words first, then the timed ``link_surfaces`` at the
size, written to a noop sink, takes the path forced through
``linking.DRIVER_SURFACES`` (``DRIVER_PAIRS`` lifted).  Per run it
prints the wall seconds, the peak RSS of the process tree (this
process, the JVM, the Python workers) and of the driver process alone,
both reset before the timed call, and on the driver path the candidate
pairs its LSH buckets hold, the count ``DRIVER_PAIRS`` limits.  Paths
alternate which runs first.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
from typing import List

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LETTERS = "بتثجدرزسشصطعفقكلمن"
PATHS = ("driver", "distributed")


def words(n: int, seed: int = 5) -> List[str]:
    rng = random.Random(seed)
    out: set = set()
    while len(out) < n:
        w = "".join(rng.choice(LETTERS) for _ in range(rng.randint(5, 10)))
        out.add(w)
        if rng.random() < 0.3 and len(out) < n:
            i = rng.randrange(len(w))
            out.add(w[:i] + w[i + 1 :])
    return sorted(out)


def child(path: str, n: int) -> dict:
    """One timed ``link_surfaces`` at ``n`` words on ``path``."""
    sys.path.insert(0, CHECKOUT)
    from perfbench import benv

    root = benv.RunRoot(CHECKOUT)
    spark = None
    try:
        spark = benv.start_session(CHECKOUT, root, event_log=False)
        from arabicner_spark.functions import hashing
        from arabicner_spark.operators import linking
        from arabicner_spark.sources import synth
        from arabicner_spark.sources.io import local_table

        alias_best = linking.best_alias(spark, synth.make_alias_rows())
        real_count, counts = hashing.local_bucket_pairs, []
        hashing.local_bucket_pairs = lambda b: counts.append(real_count(b)) or counts[-1]

        def run(texts, on_driver):
            linking.DRIVER_SURFACES = len(texts) if on_driver else len(texts) - 1
            linking.DRIVER_PAIRS = sys.maxsize
            m = local_table(spark, [(t,) for t in texts], "text string")
            linking.link_surfaces(m, alias_best).write.format("noop").mode("overwrite").save()

        warm = words(2000, seed=1)
        run(warm, True)
        run(warm, False)
        texts = words(n)
        counts.clear()
        benv.reset_tree_peak_rss()
        t0 = time.perf_counter()
        run(texts, path == "driver")
        wall = time.perf_counter() - t0
        return {
            "path": path,
            "surfaces": n,
            "wall_s": round(wall, 2),
            "tree_peak_rss_mb": round(benv.tree_peak_rss_mb()),
            "driver_peak_rss_mb": round(benv._hwm_kb(os.getpid()) / 1024),
            "bucket_pairs": counts[0] if counts else None,
        }
    finally:
        benv.shutdown(spark)
        root.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--surfaces", type=int, nargs="+", default=[100_000, 200_000])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--child", choices=PATHS, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(args.child, args.surfaces[0])), flush=True)
        return 0

    runs = []
    for n in args.surfaces:
        for rep in range(args.reps):
            for path in PATHS if rep % 2 == 0 else PATHS[::-1]:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--child", path, "--surfaces", str(n)],
                    capture_output=True, text=True, check=True, cwd=CHECKOUT,
                )
                runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
                print(json.dumps(runs[-1]), flush=True)
    print(f"{'surfaces':>9}{'path':>13}{'wall_s':>9}{'tree_rss_mb':>13}{'driver_rss_mb':>15}{'bucket_pairs':>14}")
    for n in args.surfaces:
        for path in PATHS:
            mine = [r for r in runs if r["surfaces"] == n and r["path"] == path]
            med = {k: statistics.median(r[k] for r in mine) for k in ("wall_s", "tree_peak_rss_mb", "driver_peak_rss_mb")}
            pairs = mine[0]["bucket_pairs"]
            print(f"{n:>9}{path:>13}{med['wall_s']:>9.2f}{med['tree_peak_rss_mb']:>13.0f}"
                  f"{med['driver_peak_rss_mb']:>15.0f}{pairs if pairs is not None else '-':>14}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
