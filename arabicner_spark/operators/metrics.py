"""Span-set evaluation as DataFrame joins — SURVEY.md section 2.A
operator #17.

The reference scores with seqeval IOB2 span P/R/F1, duplicating the
dataset once per entity-type level (arabiner/utils/metrics.py:16-46).
Span-set scoring is exactly set intersection, so on DataFrames it is
one inner join: TP = |gold ∩ pred| on the full span identity
(conv, turn, level, type, start, end).  Micro scores come from three
counts; the per-type report is the same join grouped by type.  No
collect of span tables — only the final counts reach the driver.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPAN_KEYS = ["conv_id", "turn_idx", "level", "type", "start_tok", "end_tok"]


def span_prf(gold: DataFrame, pred: DataFrame, keys=None) -> SimpleNamespace:
    """Micro precision/recall/F1 over exact span identity."""
    keys = keys or SPAN_KEYS
    g = gold.select(*keys).distinct()
    p = pred.select(*keys).distinct()
    tp = g.join(p, keys, "inner").count()
    n_gold = g.count()
    n_pred = p.count()
    prec = tp / n_pred if n_pred else (1.0 if not n_gold else 0.0)
    rec = tp / n_gold if n_gold else (1.0 if not n_pred else 0.0)
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return SimpleNamespace(
        precision=prec, recall=rec, f1=f1, tp=tp, n_gold=n_gold, n_pred=n_pred
    )


def per_type_report(gold: DataFrame, pred: DataFrame) -> DataFrame:
    """-> (type, n_gold, n_pred, tp, precision, recall, f1) — one row
    per entity type, computed in two aggregations + one join."""
    g = gold.select(*SPAN_KEYS).distinct()
    p = pred.select(*SPAN_KEYS).distinct()
    tp = g.join(p, SPAN_KEYS, "inner").groupBy("type").agg(F.count("*").alias("tp"))
    ng = g.groupBy("type").agg(F.count("*").alias("n_gold"))
    np_ = p.groupBy("type").agg(F.count("*").alias("n_pred"))
    rep = (
        ng.join(np_, "type", "full")
        .join(tp, "type", "left")
        .fillna(0, ["n_gold", "n_pred", "tp"])
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    return rep.select(
        "type",
        "n_gold",
        "n_pred",
        "tp",
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0), 4
        ).alias("f1"),
    )


def token_tags(spans: DataFrame) -> DataFrame:
    """Span rows -> exploded BIO token tags (conv_id, turn_idx, level,
    pos, tag).

    Within one level spans never overlap (the BIO head can express only
    one segmentation), so (conv_id, turn_idx, level, pos) is unique.  Positions covered by
    no span carry the implicit "O" and are NOT emitted — consumers
    treat absence as "O".
    """
    pos = F.explode(F.sequence(F.col("start_tok"), F.col("end_tok") - 1)).alias("pos")
    keys = ("conv_id", "turn_idx", "level")
    return spans.select(*keys, "type", "start_tok", pos).select(
        *keys,
        "pos",
        F.when(
            F.col("pos") == F.col("start_tok"), F.concat(F.lit("B-"), "type")
        )
        .otherwise(F.concat(F.lit("I-"), "type"))
        .alias("tag"),
    )


def nested_report_df(
    gold: DataFrame, pred: DataFrame, turn_tokens: DataFrame, n_levels: int
) -> DataFrame:
    """The reference's full nested report as ONE distributed plan — a
    one-row DataFrame with micro/macro/weighted P/R/F1 plus token
    accuracy (arabiner/utils/metrics.py:31-46, seqeval IOB2), unrounded.

    seqeval semantics reproduced:
      * micro: pooled span counts (tp / n_pred, tp / n_gold over sums);
      * macro: unweighted mean of per-type P/R/F1 over every type
        present in gold OR pred;
      * weighted: per-type scores weighted by GOLD support (types with
        no gold spans contribute 0 weight);
      * accuracy: token-level tag equality over the dataset duplicated
        once per level (seqeval.accuracy_score flattens exactly that),
        with un-spanned positions counting as "O".

    ``turn_tokens`` is (conv_id, turn_idx, n_tokens).  Everything is
    aggregation: per-type frame (vocabulary-sized) -> one row; the
    mismatch count and token total are one-row aggs crossJoined in —
    nothing data-sized ever reaches the driver.
    """
    g = gold.select(*SPAN_KEYS).distinct()
    p = pred.select(*SPAN_KEYS).distinct()
    tp = g.join(p, SPAN_KEYS, "inner").groupBy("type").agg(F.count("*").alias("tp"))
    counts = (
        g.groupBy("type").agg(F.count("*").alias("n_gold"))
        .join(p.groupBy("type").agg(F.count("*").alias("n_pred")), "type", "full")
        .join(tp, "type", "left")
        .fillna(0, ["n_gold", "n_pred", "tp"])
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    per = counts.select(
        "n_gold",
        "n_pred",
        "tp",
        prec.alias("p_"),
        rec.alias("r_"),
        F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0).alias("f_"),
    )

    def _weighted(col):
        return F.when(
            F.sum("n_gold") > 0, F.sum(F.col(col) * F.col("n_gold")) / F.sum("n_gold")
        ).otherwise(0.0)

    mp = F.when(F.sum("n_pred") > 0, F.sum("tp") / F.sum("n_pred")).otherwise(0.0)
    mr = F.when(F.sum("n_gold") > 0, F.sum("tp") / F.sum("n_gold")).otherwise(0.0)
    agg = per.agg(
        F.coalesce(mp, F.lit(0.0)).alias("micro_p"),
        F.coalesce(mr, F.lit(0.0)).alias("micro_r"),
        F.coalesce(F.avg("p_"), F.lit(0.0)).alias("macro_p"),
        F.coalesce(F.avg("r_"), F.lit(0.0)).alias("macro_r"),
        F.coalesce(F.avg("f_"), F.lit(0.0)).alias("macro_f1"),
        F.coalesce(_weighted("p_"), F.lit(0.0)).alias("weighted_p"),
        F.coalesce(_weighted("r_"), F.lit(0.0)).alias("weighted_r"),
        F.coalesce(_weighted("f_"), F.lit(0.0)).alias("weighted_f1"),
    )
    pr = F.col("micro_p") + F.col("micro_r")
    agg = agg.withColumn(
        "micro_f1",
        F.when(pr > 0, 2 * F.col("micro_p") * F.col("micro_r") / pr).otherwise(0.0),
    )

    # token accuracy: BIO-exploded tags, deduplicated — duplicate or
    # same-level overlapping span rows must not fan out the full join
    # and inflate the mismatch count (ADVICE r2).
    keys = ["conv_id", "turn_idx", "level", "pos"]
    gt = token_tags(g).distinct().withColumnRenamed("tag", "g")
    pt = token_tags(p).distinct().withColumnRenamed("tag", "p")
    mism = (
        gt.join(pt, keys, "full")
        .where(F.coalesce("g", F.lit("O")) != F.coalesce("p", F.lit("O")))
        .agg(F.count("*").alias("mismatches"))
    )
    tot = turn_tokens.agg(
        (F.coalesce(F.sum("n_tokens"), F.lit(0)) * n_levels).alias("total_slots")
    )
    acc = mism.crossJoin(tot).select(
        F.when(
            F.col("total_slots") > 0,
            (F.col("total_slots") - F.col("mismatches")) / F.col("total_slots"),
        )
        .otherwise(1.0)
        .alias("accuracy")
    )
    return agg.crossJoin(acc).select(
        "micro_p", "micro_r", "micro_f1",
        "macro_p", "macro_r", "macro_f1",
        "weighted_p", "weighted_r", "weighted_f1",
        "accuracy",
    )


def nested_metrics(
    gold: DataFrame, pred: DataFrame, turn_tokens: DataFrame, n_levels: int
) -> SimpleNamespace:
    """Driver-side view of nested_report_df (one collected row)."""
    r = nested_report_df(gold, pred, turn_tokens, n_levels).first()
    return SimpleNamespace(
        micro_f1=r.micro_f1,
        macro_f1=r.macro_f1,
        weights_f1=r.weighted_f1,
        precision=r.micro_p,
        recall=r.micro_r,
        accuracy=r.accuracy,
    )


def triple_prf(gold: DataFrame, pred: DataFrame) -> SimpleNamespace:
    """BASELINE.json headline: P/R over the emitted (subj, pred, obj)
    set (full triple identity incl. location columns)."""
    keys = ["subj", "pred", "obj", "conv_id", "turn_idx", "subj_type", "obj_type"]
    return span_prf(gold, pred, keys=keys)
