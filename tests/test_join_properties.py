"""Property-based cross-checks of the composed join operators against
brute-force Python references — random keys/timestamps/intervals, not
fixtures.  Few examples (each runs a real Spark job) but adversarial
shapes: duplicate timestamps, empty sides, point-width intervals."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arabicner_spark.operators.asof import asof_join
from arabicner_spark.operators.ranges import range_join

KEYS = ["u1", "u2", "u3"]
left_rows = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(0, 50)), min_size=0, max_size=12
)
right_maps = st.dictionaries(
    st.tuples(st.sampled_from(KEYS), st.integers(0, 50)),
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    max_size=12,
)
intervals = st.lists(
    st.tuples(st.integers(-5, 55), st.integers(0, 20)), min_size=0, max_size=8
)


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lrows=left_rows, rmap=right_maps)
def test_asof_matches_bruteforce(spark, lrows, rmap):
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)] or [("zz", 0, -1)],
        "k string, lts int, rid int",
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rmap.items()] or [("zz", 99, 0.0)],
        "k string, rts int, val double",
    )
    got = {
        r.rid: r.val
        for r in asof_join(left, right, ["k"], "lts", "rts", ["val"]).collect()
        if r.rid >= 0
    }
    for i, (k, t) in enumerate(lrows):
        cands = [(rt, v) for (rk, rt), v in rmap.items() if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got.get(i) == want, (i, k, t, cands)


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lrows=left_rows, itv=intervals)
def test_range_join_matches_bruteforce(spark, lrows, itv):
    pts = spark.createDataFrame(
        [(t, i) for i, (_k, t) in enumerate(lrows)] or [(-99, -1)],
        "ts long, pid int",
    )
    spans = spark.createDataFrame(
        [(s, s + w, j) for j, (s, w) in enumerate(itv)] or [(-99, -98, -1)],
        "s long, e long, iid int",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(pts, "ts", spans, "s", "e", bucket_width=7).collect()
        if r.pid >= 0 and r.iid >= 0
    )
    want = sorted(
        (i, j)
        for i, (_k, t) in enumerate(lrows)
        for j, (s, w) in enumerate(itv)
        if s <= t < s + w
    )
    assert got == want
