"""operators/asof.asof_join vs hand-worked expectations (tie rule,
no-predecessor NULLs, key isolation, collision guard)."""

import pytest

from arabicner_spark.operators.asof import asof_join


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_basic_ties_and_nulls(spark):
    left = _df(
        spark,
        [("u1", 5, "a"), ("u1", 10, "b"), ("u1", 2, "c"), ("u2", 7, "d")],
        "k string, lts int, tag string",
    )
    right = _df(
        spark,
        [("u1", 3, 30.0), ("u1", 10, 100.0), ("u2", 9, 90.0)],
        "k string, rts int, val double",
    )
    out = {
        r.tag: (r.val)
        for r in asof_join(
            left, right, keys=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    assert out["a"] == 30.0  # rts=3 is the greatest <= 5
    assert out["b"] == 100.0  # equal timestamp IS visible (>= convention)
    assert out["c"] is None  # no predecessor -> NULL, row kept (left join)
    assert out["d"] is None  # u2's only click is at 9 > 7; u1 rows invisible


def test_asof_null_payload_attaches_atomically(spark):
    """The matched right row wins WHOLE: a NULL payload column in the
    matched row attaches as NULL — it must not leak in from an older
    right row (the per-column last(ignorenulls) bug)."""
    left = _df(spark, [("k", 3, "L")], "k string, lts int, tag string")
    right = _df(
        spark,
        [("k", 1, "A", 10.0), ("k", 2, None, 20.0)],
        "k string, rts int, val string, score double",
    )
    row = asof_join(
        left, right, ["k"], "lts", "rts", value_cols=["val", "score"]
    ).collect()[0]
    # matched row is rts=2: val NULL (NOT "A" from rts=1), score 20.0
    assert row.val is None
    assert row.score == 20.0


def test_asof_collision_guard(spark):
    left = _df(spark, [("u1", 5, 1.0)], "k string, lts int, val double")
    right = _df(spark, [("u1", 3, 2.0)], "k string, rts int, val double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, ["k"], "lts", "rts", ["val"])


def test_asof_preserves_left_rowcount(spark):
    left = _df(
        spark, [("u%d" % (i % 7), i, float(i)) for i in range(100)],
        "k string, lts int, x double",
    )
    right = _df(
        spark, [("u%d" % (i % 5), i * 2, float(i)) for i in range(40)],
        "k string, rts int, v double",
    )
    out = asof_join(left, right, ["k"], "lts", "rts", ["v"])
    assert out.count() == 100
