"""Triple extraction: per-turn mention self-join + type-pair predicates.

The reference has no relation extraction; the north rule adds
"dependency-free pattern predicates over detected mentions".  The exact
rule (shared by the Spark plan, the serial oracle, and the DuckDB SQL
oracle — one definition, three renderings):

    For mentions a, b of the same (conv_id, turn_idx):
      * (a.type, pred, b.type) is a row of the predicate table,
      * a and b are not the same span on the same level,
      * token gap = greatest(b.start - a.end, a.start - b.end) <= window
        (<= 0 means the spans overlap/nest — allowed: nested mentions
        are first-class here),
      * emit DISTINCT (subj=a.text, pred, obj=b.text, conv_id, turn_idx,
        subj_type, obj_type).

Scale notes: the self-join key is (conv_id, turn_idx) — high
cardinality, low per-key fan-out (mentions per turn is small and
bounded by turn length), so a shuffled sort-merge/hash join partitions
evenly; the predicate table is a handful of rows and is broadcast.  No
window functions, no per-row Python.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.sources.io import local_table

# (subj_type, pred, obj_type) for the synthetic/Wojood-typed corpus
DEFAULT_PREDICATES: List[Tuple[str, str, str]] = [
    ("PERS", "works_for", "ORG"),
    ("PERS", "holds_occ", "OCC"),
    ("ORG", "located_in", "GPE"),
    ("ORG", "located_in", "LOC"),
    ("FAC", "located_in", "GPE"),
    ("FAC", "located_in", "LOC"),
    ("EVENT", "on_date", "DATE"),
]

DEFAULT_WINDOW = 10


def extract_triples(
    mentions: DataFrame,
    predicates: List[Tuple[str, str, str]] = DEFAULT_PREDICATES,
    window: int = DEFAULT_WINDOW,
    width: int | None = None,
) -> DataFrame:
    """mentions -> triples (schemas.TRIPLES).

    Physical shape: ONE shuffle (groupBy the turn key), pair generation
    as array combinatorics inside whole-stage codegen, then a broadcast
    join against the tiny predicate table.  A naive self-join instead
    (a) executes the upstream plan twice — fatal when upstream is the
    Python NER stage — and (b) tempts AQE into broadcasting a mentions
    table that is unbounded at production scale.  Mentions-per-turn is
    bounded by turn length, so per-row pair fan-out is bounded and the
    type-pair + gap filters run INSIDE the array before explode.

    ``width``: explicit partition count for the per-turn aggregate.
    The mentions frame is bytes-small when the corpus is, and AQE's
    byte-based post-shuffle coalescing then folds the groupBy exchange
    to 1-2 partitions — serializing the compute-heavy pair-combinatorics
    explode (PLANS.md: compute-bound stages starved by byte coalescing).
    At production scale the exchange is wide anyway and this is a no-op.
    """
    spark = mentions.sparkSession
    pred_df = local_table(spark, predicates, "subj_type string, pred string, obj_type string")
    type_pairs = F.array(
        *[F.lit(f"{st}|{ot}") for st, ot in sorted({(s, o) for s, _p, o in predicates})]
    )
    m = F.struct("level", "start_tok", "end_tok", "type", "text")
    if width:
        mentions = mentions.repartition(width, F.col("conv_id"), F.col("turn_idx"))
    per_turn = mentions.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(m).alias("ms")
    )

    def keep(p):
        a, b = p["a"], p["b"]
        not_same = ~(
            (a["level"] == b["level"])
            & (a["start_tok"] == b["start_tok"])
            & (a["end_tok"] == b["end_tok"])
        )
        gap_ok = (
            F.greatest(
                b["start_tok"] - a["end_tok"], a["start_tok"] - b["end_tok"]
            )
            <= F.lit(window)
        )
        typed = F.array_contains(
            type_pairs, F.concat(a["type"], F.lit("|"), b["type"])
        )
        return not_same & gap_ok & typed

    pairs = per_turn.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ms",
                        lambda a: F.transform(
                            "ms", lambda b: F.struct(a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                keep,
            )
        ).alias("p"),
    )
    return (
        pairs.join(
            F.broadcast(pred_df),
            on=[
                F.col("p.a.type") == F.col("subj_type"),
                F.col("p.b.type") == F.col("obj_type"),
            ],
        )
        .select(
            F.col("p.a.text").alias("subj"),
            F.col("pred"),
            F.col("p.b.text").alias("obj"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("subj_type"),
            F.col("obj_type"),
        )
        .distinct()
    )
