"""Inference entry point — the reference's bin/infer.py surface.

    python -m arabicner_spark.plans.infer --text "..." [--master <url>]

Mirrors infer.py's flow (text2segments: ONE whitespace-split segment,
arabiner/utils/data.py:96-105; decode; print "token (TAG|TAG|...)"
with one tag per BIO level, arabiner/bin/infer.py:64-69) — but the
scoring runs through the REAL distributed stage (mapInPandas) on a
one-row transcript table, so this CLI exercises the production path.
"""

from __future__ import annotations

import argparse
from datetime import datetime, timezone
from typing import Dict, List, Tuple

from pyspark.sql import SparkSession

from arabicner_spark import schemas
from arabicner_spark.functions import tagcore
from arabicner_spark.operators import ner
from arabicner_spark.session import session
from arabicner_spark.sources import synth
from arabicner_spark.sources.io import local_table


def tag_text(
    spark: SparkSession,
    text: str,
    gazetteer: Dict[str, set],
    model_path: str | None = None,
) -> List[Tuple[str, List[str]]]:
    """-> [(token, [per-level tag name])], reference pred_tag layout.

    ``model_path`` mirrors the reference CLI (arabiner/bin/infer.py:
    10-38): a reference-layout checkpoint directory switches scoring to
    the transformers branch (functions/bert_scorer.py); omitted, the
    deterministic gazetteer scorer runs.
    """
    types = tagcore.gazetteer_types(gazetteer)
    rows = [("infer", 0, "user", text, None, datetime(2026, 1, 1, tzinfo=timezone.utc))]
    df = local_table(spark, rows, schemas.TRANSCRIPTS)
    encoder = score_fn = None
    if model_path:
        from arabicner_spark.functions import bert_scorer

        if not bert_scorer.HAS_TRANSFORMERS:
            raise RuntimeError(
                "--model_path needs transformers/torch installed; "
                "without them the gazetteer stand-in is the scorer"
            )
        # validate layout early (driver-side) for a readable error
        bert_scorer.load_checkpoint_meta(model_path)
        encoder, score_fn = bert_scorer.attach(model_path)
    mentions = ner.extract_mentions(
        df, gazetteer, encoder=encoder, score_fn=score_fn
    ).collect()
    tokens = text.split()
    tags = [["O"] * len(types) for _ in tokens]
    for m in mentions:
        tags[m.start_tok][m.level] = f"B-{m.type}"
        for pos in range(m.start_tok + 1, m.end_tok):
            tags[pos][m.level] = f"I-{m.type}"
    return list(zip(tokens, tags))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--text", required=True)
    p.add_argument("--master", default=None)
    p.add_argument(
        "--model_path",
        default=None,
        help="reference-layout checkpoint dir (args.json + tag_vocab.pkl "
        "+ checkpoints/checkpoint_*.pt); requires transformers/torch",
    )
    args = p.parse_args()
    spark = session(args.master)
    tagged = tag_text(spark, args.text, synth.gazetteer_dict(), args.model_path)
    print(" ".join(f"{tok} ({'|'.join(tags)})" for tok, tags in tagged))
    spark.stop()


if __name__ == "__main__":
    main()
