"""KMV (k-minimum-values) distinct-count sketch — deterministic,
mergeable, and EXACTLY reproducible across engines.

Why KMV here: the usual sketches (HLL, theta) have engine-specific
register layouts, so Spark's approx_count_distinct can never value-hash
against DuckDB's.  KMV over a deterministic hash is different: hash
every distinct item to md5 (portable, memory: md5-hex lexicographic
order is identical everywhere), keep the k smallest hashes, estimate

    D  ≈  (k - 1) / frac(h_k)

where frac(h_k) maps the k-th smallest hash to (0, 1].  The k-mins set
is a pure order statistic: per-partition top-k mins merge by taking
the k smallest of the union — in Spark that is exactly the map-side
partial top-k of TakeOrderedAndProject (orderBy + limit), so the
sketch state crossing the wire is k rows per partition, never the
distinct set.  The same computation is plain SQL in DuckDB, so the
driver gate pins the ESTIMATE bit-for-bit, not "within rsd".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _frac(hex_col: Column) -> Column:
    """First 15 hex digits of an md5 as a fraction in (0, 1].

    15 nibbles = 60 bits — exact in a double (no 64-bit rounding trap),
    and DuckDB computes the identical value from the same md5 string.
    """
    return (F.conv(F.substring(hex_col, 1, 15), 16, 10).cast("double") + 1) / F.lit(
        float(16**15)
    )


def kmv_distinct(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """-> one row: (k, n_kept, kth_hash, estimate) — the KMV
    distinct-count estimate for ``col``.

    Plan: distinct -> md5 -> global k smallest (TakeOrderedAndProject:
    map-side partial top-k per partition, single k-row merge) -> the
    k-th value's fraction.  No full sort, no collect of the value set.

    Small-set rule (mirrors kmv_distinct_by): when the true distinct
    count n < k, the kept set IS the whole distinct set and the
    (k-1)/frac(h_max) formula would grossly overestimate — so the
    sketch reports the exact kept-set size instead.
    """
    hashes = (
        df.select(F.md5(F.encode(F.col(col).cast("string"), "utf-8")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = hashes.agg(
        F.count("*").cast("bigint").alias("n_kept"), F.max("h").alias("kth_hash")
    )
    return agg.select(
        F.lit(k).alias("k"),
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(F.round((k - 1) / _frac(F.col("kth_hash")), 4))
        .alias("estimate"),
    )


def kmv_distinct_by(df: DataFrame, group: str, col: str, k: int = 64) -> DataFrame:
    """Per-group KMV: -> (group, n_kept, kth_hash, estimate) — the
    distinct-count estimate of ``col`` within each ``group``.

    The sketch becomes a per-group AGGREGATE: the rank window under a
    ``rank <= k`` filter plans as WindowGroupLimit, Spark's map-side
    per-group top-k pushdown, so the state crossing the shuffle is at
    most k hashes per (partition, group) — the mergeability property
    that makes the sketch a 100-TB aggregate.  Groups with fewer than k
    distinct values fall back to the EXACT count (the standard KMV
    small-set rule: the sketch holds the whole set, so report its
    size).
    """
    from pyspark.sql.window import Window

    hashes = df.select(
        F.col(group).alias("grp"),
        F.md5(F.encode(F.col(col).cast("string"), "utf-8")).alias("h"),
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    kept = hashes.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)
    agg = kept.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        F.col("grp").alias(group),
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(F.round((k - 1) / _frac(F.col("kth_hash")), 4))
        .alias("estimate"),
    )


def heavy_hitters_exact(df: DataFrame, col: str, s: int = 20) -> DataFrame:
    """Exact phi-heavy hitters: every value with count > n/s, plus its
    count and share.  Two map-side-combinable aggregates and a one-row
    broadcast — the exact two-pass formulation that is preferable to a
    sketch whenever a shuffle over the DISTINCT values is affordable
    (the group-by carries one row per distinct value, not per input
    row).  ``share`` is one IEEE division + round(4), cross-engine
    exact."""
    counts = df.groupBy(F.col(col).alias("val")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * s > F.col("n"))
        .select("val", "cnt", F.round(F.col("cnt") / F.col("n"), 4).alias("share"))
    )
