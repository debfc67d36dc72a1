"""Evaluation entry point — the reference's bin/eval.py surface.

    python -m arabicner_spark.plans.evaluate --data-paths f1.txt f2.txt \
        --output-path /tmp/eval_out

Per input CoNLL file (arabiner/bin/eval.py:50-83): run the pipeline,
write ``predictions_{filename}`` in the reference's Token.__str__
format, and print micro + per-type span P/R/F1 (the seqeval-IOB2-style
report, computed as DataFrame joins in operators/metrics.py).

The scorer is the gazetteer stand-in (AraBERT weights are LFS-stubbed
in the reference checkout); the gazetteer is built from the
GOLD spans of the supplied files, which makes this an end-to-end decode
/alignment check on real nested data rather than a model benchmark.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.functions import tagcore
from arabicner_spark.operators import metrics, ner
from arabicner_spark.session import session
from arabicner_spark.sources import conll, predictions
from arabicner_spark.sources.io import local_table


def evaluate_file(spark: SparkSession, path: str, output_path: str) -> "metrics.SimpleNamespace":
    segments = conll.parse_conll(path)
    types_all = conll.entity_types(segments)
    gaz = conll.gazetteer_from_gold(segments, types_all)
    types = tagcore.gazetteer_types(gaz)

    rows = conll.segments_to_transcript_rows(segments)
    df = local_table(spark, rows, schemas.TRANSCRIPTS)
    # reused by three metric joins and the prediction sink — materialize
    # the Python stage once; NO driver-side collect of mentions
    pred_df = ner.extract_mentions(df, gaz).localCheckpoint(eager=True)

    # gold spans come from the driver-side CoNLL fixture parse (that is
    # the input, not a collect); levels index the prediction type list
    span_schema = (
        "conv_id string, turn_idx int, level int, type string, "
        "start_tok int, end_tok int"
    )
    gold = []
    for si, _lvl, typ, s, e in conll.gold_spans(segments, types_all):
        if typ not in types:
            continue
        gold.append(
            (f"wojood_{si // 50:05d}", si % 50, types.index(typ), typ, s, e)
        )
    gold_df = local_table(spark, gold, span_schema)
    micro = metrics.span_prf(gold_df, pred_df)
    report = metrics.per_type_report(gold_df, pred_df).orderBy("type")

    # token/gold base rows ARE the parsed fixture; predicted per-level
    # tags attach via joins (token_tags -> level->tag map per position)
    base_rows = []
    for si, seg in enumerate(segments):
        for pos, (tok, gold_tags) in enumerate(seg):
            base_rows.append(
                (f"wojood_{si // 50:05d}", si % 50, si, pos, tok, gold_tags)
            )
    base = local_table(
        spark,
        base_rows,
        "conv_id string, turn_idx int, seg_id long, pos int, "
        "token string, gold_tags array<string>",
    )
    tag_map = (
        metrics.token_tags(pred_df)
        .groupBy("conv_id", "turn_idx", "pos")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("level", "tag"))).alias("m")
        )
    )
    pred_tags = F.transform(
        F.sequence(F.lit(0), F.lit(len(types) - 1)),
        lambda lvl: F.coalesce(F.element_at("m", lvl), F.lit("O")),
    )
    toks_df = base.join(tag_map, ["conv_id", "turn_idx", "pos"], "left").select(
        "seg_id", "pos", "token", "gold_tags", pred_tags.alias("pred_tags")
    )
    out = os.path.join(output_path, f"predictions_{os.path.basename(path)}")
    predictions.write_predictions(toks_df, out)

    turn_tokens = base.groupBy("conv_id", "turn_idx").agg(
        F.count("*").alias("n_tokens")
    )
    nested = metrics.nested_metrics(gold_df, pred_df, turn_tokens, len(types))

    print(f"== {os.path.basename(path)} ==")
    print(
        f"micro: P={micro.precision:.4f} R={micro.recall:.4f} F1={micro.f1:.4f} "
        f"(tp={micro.tp} gold={micro.n_gold} pred={micro.n_pred})"
    )
    print(
        f"macro_f1={nested.macro_f1:.4f} weights_f1={nested.weights_f1:.4f} "
        f"accuracy={nested.accuracy:.4f}"
    )
    report.show(100, truncate=False)
    return nested


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--data-paths", nargs="+", required=True)
    p.add_argument("--output-path", required=True)
    p.add_argument("--master", default=None)
    args = p.parse_args()
    spark = session(args.master)
    os.makedirs(args.output_path, exist_ok=True)
    for path in args.data_paths:
        evaluate_file(spark, path, args.output_path)
    spark.stop()


if __name__ == "__main__":
    main()
