"""Sign-LSH-blocked embedding near-dup: recall vs brute force + plan shape.

The operator (plans/testdata_queries.q_dedup_embedding) generates
candidates via banded random-hyperplane LSH and verifies exact cosine
only within buckets, with one Arrow kernel
(hashing.cosine_bucket_verify) whether the vectors come from a
broadcast matrix or travel with their band rows.  These tests pin down
the claims PLANS.md makes about it: (a) with the default (5 bits, 48
bands) parameters the candidate set loses ZERO true pairs on the
testdata (recall 1.0 vs the all-pairs brute force), (b) both sides of
the kernel's broadcast gate return exactly the brute-force pairs, and
(c) the physical plan contains no cartesian product / unbounded
broadcast — the round-1 scale-killer shape.
"""

import os

import numpy as np
import pytest

from arabicner_spark.functions.hashing import rademacher_matrix

SF_DIR = os.environ.get("SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


def _brute_force_pairs(X, threshold=0.45):
    n = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = np.round(n @ n.T, 4)
    iu = np.triu_indices(len(X), 1)
    keep = C[iu] >= threshold
    return set(zip(iu[0][keep].tolist(), iu[1][keep].tolist()))


@pytest.fixture(scope="module")
def embeddings():
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.asarray(t.column("vec_id"))
    X = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    return ids, X


def test_lsh_recall_is_one_on_testdata(embeddings):
    ids, X = embeddings
    true_pairs = {
        (ids[a], ids[b]) for a, b in _brute_force_pairs(X)
    }
    assert true_pairs, "fixture must contain near-dup pairs"
    # same fixed-point signature computation as hashing.sign_lsh_bands
    W = rademacher_matrix(5 * 48, X.shape[1])
    S = (np.floor(X * 1e6).astype(np.int64) @ W) >= 0
    idx = {v: i for i, v in enumerate(ids)}
    missed = [
        (a, b)
        for a, b in true_pairs
        if not any(
            (S[idx[a], band * 5 : (band + 1) * 5] == S[idx[b], band * 5 : (band + 1) * 5]).all()
            for band in range(48)
        )
    ]
    assert missed == [], f"LSH blocking dropped true pairs: {missed}"


@pytest.mark.parametrize("broadcast_max_bytes", [64 << 20, 0], ids=["broadcast", "colocated"])
def test_spark_result_equals_brute_force(spark, embeddings, monkeypatch, broadcast_max_bytes):
    """Both sides of COSINE_BROADCAST_MAX_BYTES: vectors from the
    broadcast matrix, and (limit 0) vectors joined onto their band rows
    ahead of the bucket shuffle; one kernel verifies both."""
    from arabicner_spark.functions import hashing
    from arabicner_spark.plans.testdata_queries import q_dedup_embedding

    monkeypatch.setattr(hashing, "COSINE_BROADCAST_MAX_BYTES", broadcast_max_bytes)
    ids, X = embeddings
    expected = {
        (int(ids[a]), int(ids[b])) for a, b in _brute_force_pairs(X)
    }
    sc = spark.sparkContext
    group = f"dedup-embedding-{broadcast_max_bytes}"
    sc.setJobGroup(group, "dedup_embedding")
    try:
        df = q_dedup_embedding(spark, SF_DIR)
        got = {(int(r.a), int(r.b)) for r in df.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == expected  # recall AND precision 1.0 vs exact all-pairs
    if broadcast_max_bytes == 0:
        assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_plan_has_no_cross_join(spark):
    from arabicner_spark.plans.testdata_queries import q_dedup_embedding

    df = q_dedup_embedding(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
