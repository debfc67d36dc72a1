"""Distributed CoNLL reader — SURVEY.md section 2.A operator #1 as a
Spark plan (the driver-side reader in sources/conll.py stays for
oracle/test use).

Reference semantics (arabiner/utils/data.py:28-49): blank line ends a
segment; token lines are whitespace-split into (text, tags...).

Scale shape: a naive ``Window.orderBy(line_no)`` running-sum puts the
whole file through ONE task.  Instead the segment id is computed in two
phases — per-partition running blank counts (parallel window inside
each input split) plus a tiny driver-side cumulative offset per
partition (one row per split, broadcast back) — the classic scalable
prefix-sum, so a 1 TB CoNLL dump still parallelizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """-> (seg_id bigint, pos int, token string, tags array<string>).

    seg_id is 0-based in file order; pos is the token index within its
    segment.
    """
    lines = (
        spark.read.text(path)
        .select(
            F.monotonically_increasing_id().alias("line_no"),
            F.spark_partition_id().alias("part"),
            F.col("value"),
        )
        .withColumn("is_blank", (F.trim("value") == "").cast("long"))
    )
    lines = lines.localCheckpoint(eager=True)  # read once, used twice

    # phase 1: blanks before each line, within its partition
    w = Window.partitionBy("part").orderBy("line_no")
    with_local = lines.withColumn(
        "local_blanks", F.sum("is_blank").over(w) - F.col("is_blank")
    )
    # phase 2: per-partition totals -> cumulative offsets (tiny; driver)
    totals = (
        lines.groupBy("part").agg(F.sum("is_blank").alias("n")).collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["part"]):
        offsets[row["part"]] = acc
        acc += row["n"]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )

    toks = (
        with_local.where(F.col("is_blank") == 0)
        .withColumn("seg_raw", F.col("local_blanks") + off[F.col("part")])
        .withColumn("parts", F.split(F.trim("value"), "\\s+"))
        .select(
            F.col("part"),
            F.col("seg_raw"),
            F.col("line_no"),
            F.col("parts")[0].alias("token"),
            # an untagged token reads as "O", as in conll.parse_conll
            F.when(F.size("parts") > 1, F.slice("parts", 2, 1000))
            .otherwise(F.array(F.lit("O")))
            .alias("tags"),
        )
        .localCheckpoint(eager=True)  # reused by stats agg + final plan
    )
    # consecutive blank lines create empty segments the reference's
    # parser never materializes -> re-densify seg ids.  Same two-phase
    # prefix-sum as the blank counting (a global rank window here would
    # single-task the whole distinct-segment table): per-partition
    # dense_rank + driver-side cumulative distinct counts, minus one
    # whenever a segment straddles a partition boundary (it is partition
    # p's max seg_raw AND p+1's min, so it would be counted twice).
    stats = (
        toks.groupBy("part")
        .agg(
            F.countDistinct("seg_raw").alias("d"),
            F.min("seg_raw").alias("mn"),
            F.max("seg_raw").alias("mx"),
        )
        .collect()
    )
    dense_off = {}
    acc, prev_max = 0, None
    for r in sorted(stats, key=lambda r: r["part"]):
        if prev_max is not None and r["mn"] == prev_max:
            acc -= 1
        dense_off[r["part"]] = acc
        acc += r["d"]
        prev_max = r["mx"]
    doff = F.create_map(*[F.lit(x) for kv in dense_off.items() for x in kv])
    w_dense = Window.partitionBy("part").orderBy("seg_raw")
    pos_w = Window.partitionBy("seg_raw").orderBy("line_no")
    return (
        toks.withColumn(
            "seg_id", F.dense_rank().over(w_dense) - 1 + doff[F.col("part")]
        )
        .withColumn("pos", (F.row_number().over(pos_w) - 1).cast("int"))
        .select("seg_id", "pos", "token", "tags")
    )


def conll_segments(spark: SparkSession, path: str) -> DataFrame:
    """-> (seg_id, tokens array<struct<token,tags>>), order-stable."""
    df = read_conll(spark, path)
    return (
        df.withColumn("t", F.struct("pos", "token", "tags"))
        .groupBy("seg_id")
        .agg(F.sort_array(F.collect_list("t")).alias("ts"))
        .select(
            "seg_id",
            F.transform(
                "ts", lambda t: F.struct(t["token"].alias("token"), t["tags"].alias("tags"))
            ).alias("tokens"),
        )
    )
