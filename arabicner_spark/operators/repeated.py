"""Exact repeated-substring (cross-document) dedup.

The dedup modality MinHash does not cover: long VERBATIM token
sequences shared across otherwise-different documents (license
boilerplate, templated headers, quoted passages).  Near-dup doc
hashing never fires on these — document-level similarity stays low —
yet they are exactly what substring-level training-data dedup
(suffix-array "deduplicate text datasets" semantics) removes.

Spark-first formulation (the distributed cousin of the suffix-array
scan): a token substring of length >= k is repeated across documents
iff EVERY length-k window of it is a k-gram seen in >= 2 distinct
documents.  So:

1. explode each doc into (pos, hash(k-gram)) rows — one O(tokens)
   projection, no shuffle;
2. one map-side-combinable agg per gram hash (min/max doc id —
   min != max iff >= 2 distinct docs hold it; no count-distinct
   state);
3. semi-join the positions against the cross-doc grams (shuffle on
   the 32-hex gram key — uniformly distributed, skew-free by
   construction);
4. per-doc island merge: consecutive duplicated positions collapse
   via the pos - row_number() grouping trick into maximal runs,
   emitted as (doc_id, start_tok, len_tok) cut spans.  The window
   partitions by doc_id, so state is bounded by document length.

At 100 TB each step is a single shuffle-bounded stage; the gram agg
and the island merge are both partial-aggregable.  The gate hashes
grams with md5 (bit-identical in Spark and DuckDB); a production run
would swap in xxhash64 for an 8-byte key — same plan shape.

No counterpart in /root/reference (the reference has no corpus-dedup
stage at all); semantics follow the public "Deduplicating Training
Data Makes Language Models Better" ExactSubstr operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from arabicner_spark.sources.io import pin_width

GRAM_SEP = ""  # never appears inside whitespace-split tokens


def _kgram_hash(toks: Column, i, k: int) -> Column:
    return F.md5(F.encode(F.concat_ws(GRAM_SEP, F.slice(toks, i, k)), "utf-8"))


def repeated_substring_cuts(docs: DataFrame, k: int = 8) -> DataFrame:
    """Maximal cross-document repeated token runs of length >= ``k`` in
    ``docs`` (doc_id, text) as a cut list (doc_id, start_tok 1-based,
    len_tok).  A span is cut iff every k-window inside it occurs in at
    least 2 DISTINCT documents — within-doc repetition alone never
    fires (that modality is text_repetition's).

    The doc rows are pinned to ``pin_width`` by id first, so the gram
    explode + hash + partial-agg stage (one md5 per token position) is
    data-parallel instead of running at the doc scan's 1-2 splits
    (measured: the dominant cost of this operator at sf1.0, r7)."""
    if k < 1:
        raise ValueError(f"repeated_substring_cuts needs k >= 1, got {k}")
    docs = docs.repartition(pin_width(docs.sparkSession), F.col("doc_id"))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # sequence(1, n-k+1) is DESCENDING in Spark when n < k — guard it
    idx = F.when(n - k + 1 >= 1, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"), _kgram_hash(toks, i, k).alias("gram")
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.gram")

    cross_doc = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("gram")
    )
    hits = grams.join(cross_doc, "gram", "left_semi").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("int").alias("start_tok"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("len_tok"),
        )
        .select("doc_id", "start_tok", "len_tok")
    )


def apply_substring_cuts(docs: DataFrame, cuts: DataFrame) -> DataFrame:
    """Remove the cut spans from each document's token stream ->
    (doc_id, text_deduped).  One left join + one array-filter projection:
    the cut list is grouped to one row per doc (array of [start, end)
    spans) so the probe side joins against a doc-keyed table at most
    corpus-sized, and tokens are kept iff no span covers their
    position.  Docs with no cuts pass through unchanged."""
    spans = cuts.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("start_tok").alias("s"),
                (F.col("start_tok") + F.col("len_tok")).alias("e"),
            )
        ).alias("spans")
    )
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))),
        lambda x: ~F.exists(
            F.col("spans"), lambda sp: (x["p"] >= sp["s"]) & (x["p"] < sp["e"])
        ),
    )
    return docs.join(spans, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(F.concat_ws(" ", F.transform(kept, lambda x: x["t"])))
        .alias("text_deduped"),
    )
