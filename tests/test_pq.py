"""operators/pq: the distributed product-quantization pipeline
(per-subspace fixed-point codebooks -> codes -> ADC top-k) must equal
a serial numpy twin exactly — same quantization, same truncated
integral means, same (dist, code) and (adc_dist, neighbor) tie orders
— and the compressed representation must be exactly m codes per
vector."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from arabicner_spark.operators.kmeans import SCALE
from arabicner_spark.operators.pq import pq_index_and_search


def _numpy_pq(vecs: dict, m: int, k: int, updates: int, query_ids, topk: int):
    """Serial twin: vecs = {id: list[float]} -> {(q, neighbor): (dist,
    rank)}.  Mirrors the distributed algebra per subspace."""
    ids = sorted(vecs)
    d = len(vecs[ids[0]])
    sd = d // m
    q = {
        i: np.floor(np.asarray(v, dtype=np.float64) * SCALE).astype(np.int64)
        for i, v in vecs.items()
    }
    sub = lambda v, s: v[s * sd : (s + 1) * sd]  # noqa: E731

    cents = {
        (s, i): sub(q[i], s).copy() for s in range(m) for i in ids if i < k
    }

    def assign():
        out = {}
        for i in ids:
            for s in range(m):
                best = min(
                    (
                        (int(((sub(q[i], s) - c) ** 2).sum()), cl)
                        for (cs, cl), c in cents.items()
                        if cs == s
                    ),
                    key=lambda t: (t[0], t[1]),
                )
                out[(i, s)] = best[1]
        return out

    for _ in range(updates):
        a = assign()
        groups = {}
        for (i, s), cl in a.items():
            groups.setdefault((s, cl), []).append(sub(q[i], s))
        cents = {}
        for key, members in groups.items():
            ssum = np.sum(np.stack(members), axis=0, dtype=np.int64)
            n = len(members)
            cents[key] = np.sign(ssum) * (np.abs(ssum) // n)
    codes = assign()

    out = {}
    for qi in query_ids:
        dists = []
        for i in ids:
            if i == qi:
                continue
            dist = sum(
                int(((sub(q[qi], s) - cents[(s, codes[(i, s)])]) ** 2).sum())
                for s in range(m)
            )
            dists.append((dist, i))
        dists.sort()
        for rank, (dist, i) in enumerate(dists[:topk], start=1):
            out[(qi, i)] = (dist, rank)
    return out


def _synth(rng, n, d):
    return {i: [rng.uniform(-2, 2) for _ in range(d)] for i in range(n)}


def test_pq_matches_numpy_twin(spark):
    import random

    rng = random.Random(20260817)
    vecs = _synth(rng, 40, 16)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, v array<double>"
    ).repartition(5)
    got = {
        (r["q"], r["neighbor"]): (r["adc_dist"], r["rank"])
        for r in pq_index_and_search(
            df, m=4, k=4, updates=1, query_ids=range(6), topk=3
        ).collect()
    }
    want = _numpy_pq(vecs, m=4, k=4, updates=1, query_ids=range(6), topk=3)
    assert got == want


def test_pq_codes_are_m_per_vector(spark):
    from arabicner_spark.operators.kmeans import explode_fp
    from arabicner_spark.operators.pq import (
        pq_encode,
        subspace_ev,
        train_codebooks,
    )

    import random

    rng = random.Random(7)
    vecs = _synth(rng, 30, 16)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, v array<double>"
    )
    sv = subspace_ev(explode_fp(df, "vec_id", "v"), 4).localCheckpoint(eager=True)
    codes = pq_encode(sv, train_codebooks(sv, k=4, updates=1))
    per_vec = codes.groupBy("vec_id").agg(F.count("*").alias("n")).collect()
    assert len(per_vec) == 30
    assert all(r["n"] == 4 for r in per_vec)
    # codes are small ints (codebook entries), the compression claim
    mx = codes.agg(F.max("code")).collect()[0][0]
    assert mx < 4


def test_pq_rejects_indivisible_dims(spark):
    df = spark.createDataFrame([(0, [0.1] * 10)], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_index_and_search(df, m=4, k=2, updates=1, query_ids=[0], topk=1)


def test_pq_arrow_fast_path_matches_join_dataflow(spark):
    """r7: pq_index_and_search was rewritten as two Arrow passes with
    driver-side codebook algebra.  Same exact int64 fixed-point math ->
    output must be row-identical to the original join dataflow."""
    from arabicner_spark.operators.pq import (
        pq_index_and_search,
        pq_index_and_search_joins,
    )
    from arabicner_spark.plans.testdata_queries import _embeddings

    e = _embeddings(spark, "/root/testdata/sf0.01")
    fast = {tuple(r) for r in pq_index_and_search(e, m=4, k=8, updates=1,
                                                  query_ids=range(10), topk=3).collect()}
    ref = {tuple(r) for r in pq_index_and_search_joins(e, m=4, k=8, updates=1,
                                                       query_ids=range(10), topk=3).collect()}
    assert fast == ref
