"""spark-submit entry point.

    spark-submit --py-files arabicner_spark.zip arabicner_spark/plans/run.py \
        (or python -m arabicner_spark.plans.run)
        --input /path/to/transcripts  --output /path/to/kg_out
        [--synth-convs 200] [--salt-partitions 64] [--run-id r1]

With --input absent, generates the deterministic synthetic corpus
(handy for smoke runs and the bench harness).  The package is
pure-Python, so the zip `python tools/make_pyfiles_zip.py` writes is
the whole --py-files story.
"""

from __future__ import annotations

import argparse

from arabicner_spark.plans.pipeline import PipelineConfig, run_pipeline
from arabicner_spark.session import session
from arabicner_spark.sources import synth


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="transcripts table path (parquet)")
    p.add_argument("--output", required=True, help="output root for KG tables")
    p.add_argument("--synth-convs", type=int, default=100)
    p.add_argument("--synth-seed", type=int, default=42)
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--max-seq-len", type=int, default=512)
    p.add_argument("--run-id", default="r0")
    p.add_argument("--master", default=None)
    args = p.parse_args()

    spark = session(args.master)

    if args.input:
        from arabicner_spark.sources.io import parquet_fingerprint

        transcripts = spark.read.parquet(args.input)
        # content fingerprint, not the path: a rewritten input at the
        # same path must invalidate the resume manifests
        snapshot = f"{args.input}@{parquet_fingerprint(args.input)}"
    else:
        transcripts = synth.transcripts_df(
            spark, n_convs=args.synth_convs, seed=args.synth_seed
        )
        snapshot = f"synth:{args.synth_convs}:{args.synth_seed}"

    cfg = PipelineConfig(
        gazetteer=synth.gazetteer_dict(),
        alias_rows=synth.make_alias_rows(),
        salt_partitions=args.salt_partitions,
        max_seq_len=args.max_seq_len,
    )
    tables = run_pipeline(
        spark, transcripts, cfg, args.output, run_id=args.run_id, input_snapshot=snapshot
    )
    for name, df in tables.items():
        print(f"{name}: {df.count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
