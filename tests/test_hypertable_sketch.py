"""Hypertable partial-merge composition and KMV sketch accuracy."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from arabicner_spark.functions.sketches import kmv_distinct
from arabicner_spark.operators.hypertable import reaggregate, rollup_partials


def test_hypertable_partials_compose_exactly(spark):
    rows = [
        (datetime(2024, 1, 1 + h // 24, h % 24, m), float(h * 60 + m))
        for h in range(30)  # spans two days
        for m in (0, 17, 43)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    daily_via_partials = {
        r.bucket_start: (r.n, r.total, r.mn, r.mx)
        for r in reaggregate(rollup_partials(ev, "ts", "value"), "day").collect()
    }
    direct = {
        r.bucket_start: (r.n, r.total, r.mn, r.mx)
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert daily_via_partials == direct and len(direct) == 2


def test_kmv_estimate_within_theory_bound(spark):
    n, k = 5000, 128
    df = spark.range(n).select(F.col("id").cast("string").alias("v"))
    row = kmv_distinct(df, "v", k=k).first()
    # KMV standard error ~ 1/sqrt(k-2); allow 5 sigma
    assert row.estimate == pytest.approx(n, rel=5.0 / (k - 2) ** 0.5)


def test_kmv_small_set_reports_exact_count(spark):
    """n < k: the kept set is the whole distinct set, so the sketch
    must report the exact size, not (k-1)/frac(h_max) (which would
    grossly overestimate a tiny set)."""
    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    row = kmv_distinct(df, "v", k=64).first()
    assert row.n_kept == 10
    assert row.estimate == 10.0


def test_kmv_deterministic_across_partitionings(spark):
    df = spark.range(2000).select(F.col("id").cast("string").alias("v"))
    a = kmv_distinct(df.repartition(1), "v").first()
    b = kmv_distinct(df.repartition(16), "v").first()
    assert (a.kth_hash, a.estimate) == (b.kth_hash, b.estimate)


def test_heavy_hitters_exact_threshold(spark):
    from arabicner_spark.functions.sketches import heavy_hitters_exact

    rows = [("hot",)] * 50 + [(f"u{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "v string")
    out = {r.val: (r.cnt, r.share) for r in heavy_hitters_exact(df, "v", s=4).collect()}
    assert out == {"hot": (50, 0.5)}  # 50/100 > 1/4; every u_i is 1/100
