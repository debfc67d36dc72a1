"""CDC changelog apply — MERGE INTO semantics over plain DataFrames.

Applies a change stream (upserts + deletes, ordered by a sequence
column) onto a base snapshot: the latest op per key wins, 'D' drops the
row, 'U'/'I' overwrite or insert.  This is the batch-compaction half of
an incremental pipeline (Iceberg/Delta MERGE without their runtimes —
the sandbox has no Iceberg jars, see sources/io.py).

Scale shape: ONE shuffle on the merge key for the latest-op rank window
+ one co-partitioned full-outer join against the base.  The changelog
is usually a day's slice (<< base), so AQE broadcasts it when small;
the plan degrades gracefully to sort-merge when it isn't.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def apply_changelog(
    base: DataFrame,
    log: DataFrame,
    key: str,
    payload: Sequence[str] = (),
) -> DataFrame:
    """-> the merged snapshot: base columns, with ``payload`` columns
    overwritten by the latest (highest ``seq``) non-delete ``op`` per
    key of ``log``, keys whose latest
    op is 'D' removed, and keys present only in the log inserted (their
    non-payload base columns NULL — callers coalesce defaults).

    Adds ``src`` = 'base' | 'cdc' marking which side won the row.
    Ties on ``seq`` are broken deterministically is the caller's
    responsibility (pass a unique sequence — e.g. a changelog offset).
    """
    w = Window.partitionBy(key).orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )
    lat = latest.select(
        F.col(key),
        F.col("op").alias("_op"),
        *[F.col(c).alias(f"_new_{c}") for c in payload],
    )
    merged = base.join(lat, key, "full_outer")
    out_cols = [F.col(key)]
    for c in base.columns:
        if c == key:
            continue
        if c in payload:
            out_cols.append(F.coalesce(F.col(f"_new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    out_cols.append(
        F.when(F.col("_op").isNull(), "base").otherwise("cdc").alias("src")
    )
    return merged.where(F.col("_op").isNull() | (F.col("_op") != "D")).select(*out_cols)
