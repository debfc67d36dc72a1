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
evenly; the predicate table is a handful of rows and becomes a literal
map.  No window functions, no per-row Python.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.sources.io import pin_width

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
) -> DataFrame:
    """mentions -> triples (schemas.TRIPLES).

    Physical shape: ONE shuffle (groupBy the turn key), then pair
    generation and the predicate lookup as array combinatorics: the
    predicate table is a handful of rows, so it is a literal
    ``type|type -> [pred]`` map, not a join.  A naive self-join instead
    (a) executes the upstream plan twice — fatal when upstream is the
    Python NER stage — and (b) tempts AQE into broadcasting a mentions
    table that is unbounded at production scale.  Mentions-per-turn is
    bounded by turn length, so per-row pair fan-out is bounded and the
    type-pair + gap filters run INSIDE the array before explode.  The
    per-turn aggregate's exchange is pinned to ``pin_width``.
    """
    by_pair: Dict[str, List[str]] = {}
    for st, pred, ot in predicates:
        preds = by_pair.setdefault(f"{st}|{ot}", [])
        if pred not in preds:
            preds.append(pred)
    preds_of = F.create_map(
        *[x for k, ps in sorted(by_pair.items()) for x in (F.lit(k), F.array(*map(F.lit, ps)))]
    ).cast("map<string,array<string>>")
    m = F.struct("level", "start_tok", "end_tok", "type", "text")
    mentions = mentions.repartition(
        pin_width(mentions.sparkSession), F.col("conv_id"), F.col("turn_idx")
    )
    per_turn = mentions.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(m).alias("ms")
    )

    def type_pair(p):
        return F.concat(p["a"]["type"], F.lit("|"), p["b"]["type"])

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
        return not_same & gap_ok & F.map_contains_key(preds_of, type_pair(p))

    pairs = F.filter(
        F.flatten(
            F.transform(
                "ms",
                lambda a: F.transform("ms", lambda b: F.struct(a.alias("a"), b.alias("b"))),
            )
        ),
        keep,
    )
    # one (pair, predicate) element per predicate of the pair's types
    facts = F.flatten(
        F.transform(
            pairs,
            lambda p: F.transform(
                preds_of[type_pair(p)],
                lambda pred: F.struct(p["a"].alias("a"), p["b"].alias("b"), pred.alias("pred")),
            ),
        )
    )
    return (
        per_turn.select("conv_id", "turn_idx", F.explode(facts).alias("f"))
        .select(
            F.col("f.a.text").alias("subj"),
            F.col("f.pred").alias("pred"),
            F.col("f.b.text").alias("obj"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("f.a.type").alias("subj_type"),
            F.col("f.b.type").alias("obj_type"),
        )
        .distinct()
    )
