"""Corpus preprocessing — SURVEY.md section 2.A operators #2/#3/#4:
the reference's process.py (TSV -> CoNLL segments, row filters, random
3-way split) as DataFrame ops.

Reference filters (arabiner/bin/process.py:24-43), reproduced exactly:
  * every label contains '-' or equals 'O' (else drop row)
  * labels non-empty, token non-empty, token is a single word
Segment boundary = sent_id change between consecutive rows
(process.py:45-46); the split is a seeded-md5 cut on the row id
(np.random.shuffle + np.split in the reference, process.py:66-84 —
same contract: disjoint, ratio-sized, seed-reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def read_wojood_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Raw export: row[1]=sent_id, row[3]=token, row[4]=labels
    (space-separated), header skipped."""
    df = spark.read.option("sep", "\t").option("header", "true").csv(path)
    cols = df.columns
    return df.select(
        F.monotonically_increasing_id().alias("row_no"),
        F.col(cols[1]).alias("sent_id"),
        F.col(cols[3]).alias("token"),
        F.split(F.coalesce(F.col(cols[4]), F.lit("")), " ").alias("labels"),
    )


def clean_rows(df: DataFrame) -> DataFrame:
    """The reference's four row filters, as one Catalyst filter."""
    valid_labels = F.forall(
        "labels", lambda l: l.contains("-") | (l == F.lit("O"))
    )
    return df.where(
        valid_labels
        & (F.size("labels") > 0)
        & (F.coalesce(F.col("token"), F.lit("")) != "")
        & (F.size(F.split(F.col("token"), " ")) == 1)
    )


def to_segments(df: DataFrame) -> DataFrame:
    """-> (seg_id, tokens array<struct<token, labels>>), boundaries at
    sent_id changes in row order."""
    w = Window.orderBy("row_no")
    marked = df.withColumn(
        "new_seg",
        (F.lag("sent_id").over(w).isNull() | (F.lag("sent_id").over(w) != F.col("sent_id"))).cast("int"),
    )
    seg = marked.withColumn("seg_id", F.sum("new_seg").over(w) - 1)
    return (
        seg.withColumn("t", F.struct("row_no", "token", "labels"))
        .groupBy("seg_id")
        .agg(F.sort_array(F.collect_list("t")).alias("ts"))
        .select(
            "seg_id",
            F.transform(
                "ts",
                lambda t: F.struct(t["token"].alias("token"), t["labels"].alias("labels")),
            ).alias("tokens"),
        )
    )


def split_by_hash(
    df: DataFrame,
    id_col: str,
    seed: int = 1,
) -> DataFrame:
    """Deterministic 80/10/10 split: appends a ``split`` column
    ('train'/'dev'/'test') from a seeded-md5 hex cut on ``id_col``.

    The engine-independent alternative to randomSplit (reference:
    arabiner/bin/process.py:66-84 seeds a shuffle — same intent, but
    Spark's randomSplit depends on partitioning and JVM RNG, so it can
    neither be oracle-checked nor survive a repartition unchanged).
    The md5 cut is a pure function of the row id: stable across
    resume, partitioning, cluster size, and engines — the property a
    100-TB pipeline needs so a re-run never silently moves a document
    from train to test.  Cut points use the first 4 md5 nibbles
    (65,536 buckets): bucket < 65536*80//100 -> train, < 65536*90//100
    -> dev, else test.
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    t_cut = 65536 * 80 // 100
    d_cut = 65536 * 90 // 100
    return df.withColumn(
        "split",
        F.when(bucket < t_cut, "train")
        .when(bucket < d_cut, "dev")
        .otherwise("test"),
    )
