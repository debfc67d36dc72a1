"""BPE tokenizer training on Spark, the counting step — the
tokenizer-side operator of a training-data pipeline (the reference
consumes a pretrained WordPiece vocab via transformers,
arabiner/utils/helpers.py; building the vocab from the corpus is the
upstream step a 100-TB pipeline owns).

Scale shape (the classic two-tier BPE formulation): ONE corpus scan
builds the word-frequency table — explode + one map-side-combinable
count agg.  At 100 TB this is the only pass over the data; pair
counting runs on the VOCABULARY table (millions of rows, not billions),
weighted by word frequency, so the shuffle carries distinct pairs, not
occurrences.

Determinism: the top-k order is (count desc, pair asc) — a total
order — so the result is a pure function of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_freqs(docs: DataFrame) -> DataFrame:
    """Corpus scan of ``docs.text`` -> (word, freq).  The single pass
    over the data."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def char_pair_counts(words: DataFrame, k: int = 20) -> DataFrame:
    """One BPE counting step over the initial (character) state as
    2-char substrings: top-k adjacent character pairs weighted by word
    frequency, (count desc, pair asc).  Pure expressions; the global
    top-k is a TakeOrderedAndProject."""
    # guarded: Spark's sequence(1, 0) is DESCENDING ([1, 0]), which
    # would give a one-character word the pairs "a" and ""
    n = (F.length("word") - 1).cast("int")
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = words.select(
        "freq", F.explode(F.transform(idx, lambda i: F.col("word").substr(i, F.lit(2)))).alias("pair")
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("n"))
    return agg.orderBy(F.desc("n"), "pair").limit(k)
