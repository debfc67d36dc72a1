"""Vocabulary construction — SURVEY.md section 2.A operator #5.

The reference's tag/token ids are FIRST-APPEARANCE ordered
(``Vocab.itos = list(Counter(...).keys())``, insertion order of a
Counter over the concatenated corpus stream —
arabiner/utils/data.py:12-25, 66-78).  That is corpus-order-dependent,
so reproducing it in Spark requires an ordered scan, NOT
``groupBy().count()`` (unordered): we take min(first_position) per
item, then rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def first_appearance_vocab(
    items: DataFrame, item_col: str, order_col: str
) -> DataFrame:
    """-> (item, id, count): id 0.. in order of first appearance.

    ``order_col`` must be a globally ordered position (e.g. seg_id *
    10^6 + pos).  One aggregation (min position + count per item) then
    a row_number over the DISTINCT item table — the window sorts only
    vocabulary-sized data, never the corpus.
    """
    agg = items.groupBy(F.col(item_col).alias("item")).agg(
        F.min(order_col).alias("first_pos"), F.count("*").alias("count")
    )
    w = Window.orderBy("first_pos")
    return agg.withColumn("id", F.row_number().over(w) - 1).select(
        "item", "id", "count"
    )
