"""As-of join — an operator Spark's built-in joins lack, composed from
union + running window (the driver mandate's named example of a custom
operator built as "(a) a composition of existing DataFrame ops").

Semantics (matching DuckDB/kdb ASOF JOIN, inequality ``left.ts >=
right.ts``): for every left row, attach the single right row with the
GREATEST right timestamp <= the left timestamp within the same key
group; left rows with no predecessor keep NULLs (left-join flavor).

Plan shape — why union+window instead of join+rank:
  * the naive range join (l JOIN r ON key AND r.ts <= l.ts, then
    rank=1) materializes O(|l| x matching |r|) intermediate rows per
    key before pruning — quadratic in hot keys;
  * here both sides are unioned (one column-aligned scan each), ONE
    shuffle on the key, and a RUNNING ``last(ignorenulls)`` window
    (rowsBetween unboundedPreceding..current) fills right values
    forward in timestamp order — O(n log n) sort per key group, no
    intermediate blowup, whole-stage-codegen friendly.
  * tie rule: right rows sort BEFORE left rows at an equal timestamp
    (side 0 < 1), so an exactly-simultaneous right row IS visible to
    the left row — the ASOF ``>=`` convention.

Scale note: per-key data sorts within one task; a pathologically hot
key concentrates its sort (AQE cannot split window skew).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Left as-of join.  ``value_cols`` are the right-side payload
    columns to attach; they must not collide with left column names
    (alias on the right beforehand).  ``right`` should be unique per
    (keys, right_ts) — pre-aggregate if not, or the attached payload at
    a tied timestamp is engine-dependent.
    """
    keys = list(keys)
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols collide with left columns: {sorted(clash)}")
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    r = right.select(
        *keys, F.col(right_ts).alias("__ts"), *[F.col(c) for c in value_cols]
    ).withColumn("__side", F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Fill ONE struct of the whole right-side payload, gated on
    # __side==0, then unpack: the matched row wins ATOMICALLY.  Filling
    # each column independently with last(col, ignorenulls) would mix
    # values across right rows whenever the matched row carries a NULL
    # payload column (that column would leak in from an OLDER row —
    # not ASOF semantics).  The struct is non-null for every right row
    # even when all its fields are NULL, so a matched-but-NULL payload
    # correctly attaches NULL.  Still a single Window node.
    match = (
        F.last(
            F.when(
                F.col("__side") == 0, F.struct(*[F.col(c) for c in value_cols])
            ),
            ignorenulls=True,
        )
        .over(w)
        .alias("__match")
    )
    keep = [c for c in u.columns if c not in value_cols]
    return (
        u.select(*keep, match)
        .where(F.col("__side") == 1)
        .select(*keep, *[F.col("__match")[c].alias(c) for c in value_cols])
        .drop("__ts", "__side")
    )
