"""Round-7 optimization harness (guide section 1): time individual
registry queries in isolation with the noop sink, and dump
.explain("formatted") plans to plans/r07/.

Separate from the FROZEN bench.py on purpose — bench.py's methodology
(count() timing, 3-sweep medians) is the driver's yardstick; this file
exists so each optimization can be measured with the noop sink (full
materialization of every column, no count-prune) and labeled jobs.

Usage:
  python tools/bench_extra.py time  <query> [query...]   # noop-sink timing
  python tools/bench_extra.py plan  <query> [query...]   # write plans/r07/<q>_<tag>.txt
  python tools/bench_extra.py count <query> [query...]   # bench.py-style count timing

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the cores this process may run on), BENCH_EXTRA_REPEATS
(default 1), BENCH_EXTRA_TAG (plan file suffix, default "before").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arabicner_spark.session import session


def main() -> None:
    mode = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "1"))
    tag = os.environ.get("BENCH_EXTRA_TAG", "before")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # bench.py's session (partitions, memory), so a query timed here
    # compares with its bench.py timing
    spark = session(
        f"local[{cpus}]",
        driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        shuffle_partitions=max(cpus, 16),
    )
    from arabicner_spark.plans.testdata_queries import QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name in names:
        fn, _sql = QUERIES[name]
        if mode == "plan":
            df = fn(spark, sf_dir)
            out = os.path.join(here, "plans", "r07", f"{name}_{tag}.txt")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
            print(f"{name}: wrote {out}")
            continue
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"r07 {mode}: {name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            if mode == "count":
                n = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
                n = None
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: {samples} rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
