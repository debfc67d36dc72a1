"""Deterministic distributed sampling primitives.

``weighted_sample`` — weighted sampling WITHOUT replacement via
priority sampling (Duffield–Lund–Thorup): each row gets priority
q = w / u with u a deterministic md5-derived uniform in (0, 1]; the
k highest-priority rows are the sample.  Rows with weight w are
selected with probability proportional to w (exactly min(1, w/tau)
for the threshold tau = (k+1)-th priority), and the scheme supports
unbiased subset-sum estimation via max(w, tau).

Why priority sampling and not the more common Efraimidis–Spirakis
exponential keys (u^(1/w)): E-S needs pow/log, and transcendental
functions are NOT guaranteed correctly rounded — JVM StrictMath and
DuckDB's libm can differ in the last ulp, which is exactly the latent
cross-engine gate flakiness this suite bans (see the r3 pagerank
ADVICE).  Priority sampling needs ONE division, which IEEE 754 defines
correctly rounded, so q is bit-identical in Spark and DuckDB and the
selected set value-hashes exactly.

Scale: the top-k plans as TakeOrderedAndProject — map-side partial
top-k per partition, k-row merge — so the shuffle carries k rows per
partition regardless of corpus size; u is a pure expression (one md5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arabicner_spark.functions.hashing import seeded_md5
from arabicner_spark.sources.io import local_table

_NIBBLES = 15  # 60 bits: exact in a double, same rule as sketches._frac


def md5_uniform(col: Column, seed: int) -> Column:
    """Deterministic uniform in (0, 1]: first 15 md5 nibbles + 1 over
    16^15 — identical construction to sketches._frac, so the value is
    reproducible in DuckDB from the same md5 string."""
    return (
        F.conv(F.substring(seeded_md5(col, seed), 1, _NIBBLES), 16, 10).cast("double")
        + 1
    ) / F.lit(float(16**_NIBBLES))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 7,
) -> DataFrame:
    """-> the k rows of ``df`` sampled without replacement with
    probability proportional to ``weight_col`` (> 0), plus the
    priority.  Deterministic in (data, seed); top-k by (priority, id)
    — the id tiebreak is unreachable in practice (u collision is
    2^-60) but keeps the plan's order total."""
    u = md5_uniform(F.col(id_col).cast("string"), seed)
    q = (F.col(weight_col).cast("double") / u).alias("priority")
    return (
        df.select(F.col(id_col), F.col(weight_col), q)
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


HEX60 = float(16**_NIBBLES)  # 2^60 — exactly representable in a double


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    targets: dict,
    k: int,
    seed: int = 11,
) -> DataFrame:
    """Data MIXING: draw ~``k`` rows whose source composition follows
    ``targets`` (source -> share, summing to 1) — the multi-source
    mixture step of a training-data pipeline (web/code/chat/... blended
    to a recipe).  Per source the keep rate is
    ``min(1, share*k / size)`` and a row is kept iff its 60-bit seeded
    md5 value falls below ``floor(rate * 2^60)`` — so membership is a
    deterministic function of (id, seed, per-source sizes): stable
    across runs, partitionings, resume, and engines.

    Undersized sources saturate at rate 1 (you cannot oversample
    without replacement); callers wanting exact-k combine this with a
    top-k trim.  Cross-engine exactness: share*k is computed once in
    Python (one double literal), the per-row math is one IEEE division,
    one multiply by 2^60 (exact power of two), and one floor — every
    step correctly rounded, so Spark and DuckDB agree bit-for-bit.

    Scale: sizes = one map-side-combinable count agg (source cardinality
    rows); the rate join broadcasts; the filter is a pure projection.
    """
    sizes = df.groupBy(source_col).agg(F.count("*").alias("_size"))
    spark = df.sparkSession
    desired = local_table(
        spark,
        [(s, float(share * k)) for s, share in targets.items()],
        f"{source_col} string, _desired double",
    )
    rates = sizes.join(F.broadcast(desired), source_col)
    thr = F.floor(
        F.least(F.lit(1.0), F.col("_desired") / F.col("_size").cast("double"))
        * F.lit(HEX60)
    ).cast("long")
    hash60 = F.conv(
        F.substring(seeded_md5(F.col(id_col).cast("string"), seed), 1, _NIBBLES), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates.select(source_col, thr.alias("_thr"))), source_col)
        .where(hash60 < F.col("_thr"))
        .drop("_thr")
    )
