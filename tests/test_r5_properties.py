"""Property test for the round-5 fixed-point k-means.

Spark sessions are too slow for per-example use, so each property
collects many generated cases into ONE DataFrame and checks all rows
of a single Spark job against the serial reference — the same
batching trick as tests/test_properties.py.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None)
@given(
    n=st.integers(min_value=3, max_value=40),
    dims=st.integers(min_value=1, max_value=6),
    k=st.integers(min_value=1, max_value=6),
    rounds=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_kmeans_fp_equals_numpy_twin_random(spark, n, dims, k, rounds, seed):
    from tests.test_kmeans import _numpy_kmeans_fp

    from arabicner_spark.operators.kmeans import kmeans_fp

    rng = np.random.RandomState(seed)
    vecs = {i: rng.uniform(-1.5, 1.5, dims).round(4).tolist() for i in range(n)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, v array<double>"
    )
    want = _numpy_kmeans_fp(vecs, k=min(k, n), rounds=rounds)
    got = {
        r.vec_id: (r.cluster, r.dist_fp)
        for r in kmeans_fp(df, k=min(k, n), rounds=rounds).collect()
    }
    assert got == want
