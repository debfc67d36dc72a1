"""Sequence packing (concat-and-chunk) — the LLM-pretraining step that
concatenates the tokenized corpus in a fixed document order and slices
it into fixed-size training chunks, so short documents share chunks
and long ones straddle boundaries.

The core is a GLOBAL prefix sum of per-document token counts.  The
naive expression — one Window over the whole corpus ordered by id —
plans as a SINGLE-partition sort at any scale (Window with no
partitionBy collapses to one task): fine for an oracle, fatal at
100 TB.  This operator implements the scalable two-pass form:

  1. range-repartition by id (contiguous id ranges per partition) and
     cumsum WITHIN each partition (a per-partition Window — parallel);
  2. aggregate one total per partition (partition-count rows, driver
     collects ~hundreds of longs), prefix-sum those on the driver, and
     broadcast-join the per-partition base offsets back.

The output is invariant to the partitioning (offsets depend only on
the global id order), which is what lets the DuckDB oracle use the
serial single-window cumsum and still value-hash exactly — the gate
literally proves two-pass distributed == serial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arabicner_spark.sources.io import local_table, pin_width


def pack_sequences(df: DataFrame, id_col: str, len_col: str, chunk: int) -> DataFrame:
    """-> (id, len, tok_start, chunk_start, chunk_end, offset_in_chunk)

    ``tok_start``: the document's global token offset under
    concatenation in ``id_col`` order; ``chunk_start``/``chunk_end``:
    first/last chunk (size ``chunk``) holding any of its tokens;
    ``offset_in_chunk``: position of its first token inside
    chunk_start.  Zero-length docs occupy no tokens; they report the
    chunk their offset falls in with chunk_end = chunk_start.  The
    range repartition is ``pin_width`` wide.
    """
    part = df.select(
        F.col(id_col).alias("id"), F.col(len_col).cast("long").alias("len")
    ).repartitionByRange(pin_width(df.sparkSession), F.col("id"))
    # materialize ONCE: the totals job and the final job must see the
    # SAME sampled range boundaries (re-executing the exchange could
    # re-sample and shift pid assignments between the two passes)
    part = part.withColumn("pid", F.spark_partition_id()).localCheckpoint(eager=True)

    win = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("local_end", F.sum("len").over(win))

    # pass 2: per-partition totals -> driver prefix -> broadcast base
    totals = {
        r["pid"]: r["tot"]
        for r in part.groupBy("pid").agg(F.sum("len").alias("tot")).collect()
    }
    base, acc = [], 0
    for pid in sorted(totals):
        base.append((pid, acc))
        acc += totals[pid]
    base_df = local_table(df.sparkSession, base or [(0, 0)], "pid int, base long")

    g = local.join(F.broadcast(base_df), "pid").select(
        F.col("id").alias(id_col),
        "len",
        (F.col("base") + F.col("local_end") - F.col("len")).alias("tok_start"),
    )
    return g.select(
        id_col,
        "len",
        "tok_start",
        F.expr(f"tok_start div {chunk}").cast("long").alias("chunk_start"),
        F.expr(
            f"(tok_start + greatest(len - 1, 0)) div {chunk}"
        ).cast("long").alias("chunk_end"),
        (F.col("tok_start") % chunk).cast("long").alias("offset_in_chunk"),
    )
