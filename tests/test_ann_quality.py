"""Refined-vs-raw IVF index quality (the r6 wire of kmeans_fp into the
index build, VERDICT r5 #2): the gated queries (ann_ivf, ann_recall)
now search centroids refined by one fixed-point Lloyd update; this
test runs BOTH indexes through identical recall plumbing
(_ann_recall_df) and asserts the refined index's corpus-mean recall@10
is >= the unrefined one it replaced.  Numbers for the round receipt
are printed (captured via `pytest -s` into PLANS.md)."""

from __future__ import annotations

import os

import pytest

from arabicner_spark.plans import testdata_queries as tq

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _mean_metrics(spark, ranker):
    row = (
        tq._ann_recall_df(spark, SF_DIR, ranker)
        .where("q = -1")
        .collect()[0]
    )
    return float(row["recall_at_k"]), float(row["rr"])


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_refined_index_recall_not_worse_than_raw(spark):
    refined_recall, refined_rr = _mean_metrics(spark, tq.ivf_ranked)
    raw_recall, raw_rr = _mean_metrics(spark, tq.ivf_ranked_raw)
    print(
        f"\nann recall@10 (sf0.001): refined={refined_recall} raw={raw_recall}"
        f" | MRR: refined={refined_rr} raw={raw_rr}"
    )
    assert refined_recall >= raw_recall
    # sanity: the refined index still retrieves something
    assert refined_recall > 0.0


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_refined_assignment_matches_kmeans_fp_final_round(spark):
    """The index assignment (cr=1 cell per vector) must be EXACTLY the
    cluster kmeans_fp(rounds=2) lands on — ivf_ranked is not a similar
    heuristic but the same refined centroids (seed + 1 Lloyd update)."""
    from pyspark.sql import functions as F

    from arabicner_spark.operators.kmeans import kmeans_fp

    e = tq._embeddings(spark, SF_DIR)
    km = kmeans_fp(e, "vec_id", "v", k=tq.IVF_CELLS, rounds=2).select(
        "vec_id", F.col("cluster").cast("int").alias("cl_km")
    )
    idx = (
        tq.ivf_ranked(e)
        .where(F.col("cr") == 1)
        .select("vec_id", F.col("cid").cast("int").alias("cl_idx"))
    )
    diff = km.join(idx, "vec_id").where(F.col("cl_km") != F.col("cl_idx"))
    assert diff.count() == 0
