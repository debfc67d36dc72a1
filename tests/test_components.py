"""Union-find fixpoint on known graphs (SURVEY.md section 5)."""

from arabicner_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    return {
        (r.node, r.component) for r in connected_components(df).collect()
    }


def test_two_components(spark):
    got = _cc(spark, [("b", "a"), ("b", "c"), ("x", "y")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_chain_collapses(spark):
    # long path: worst case for naive propagation; large/small-star
    # must still converge within the iteration cap
    n = 40
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    got = _cc(spark, edges)
    assert got == {(f"n{i:02d}", "n00") for i in range(n + 1)}


def test_self_loops_and_dups_ignored(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {("a", "a"), ("b", "a")}


def test_cycle(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_adaptive_matches_distributed(spark, monkeypatch):
    from arabicner_spark.operators import components

    edges = [("b", "a"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p")]
    df = spark.createDataFrame(edges, "a string, b string")
    dist = {(r.node, r.component) for r in connected_components(df).collect()}
    # driver path (limit above edge count) and forced distributed path
    # (limit 0) must agree exactly
    drv = {(r.node, r.component) for r in components.connected_components_adaptive(df).collect()}
    monkeypatch.setattr(components, "DRIVER_LIMIT", 0)
    forced = {(r.node, r.component) for r in components.connected_components_adaptive(df).collect()}
    assert drv == dist == forced


def test_adaptive_empty_edges(spark):
    from arabicner_spark.operators.components import connected_components_adaptive

    df = spark.createDataFrame([], "a string, b string")
    assert connected_components_adaptive(df).count() == 0


def test_adaptive_gate_both_sides(spark, monkeypatch):
    """The gate counts CANONICAL edges (dups and self-loops dropped):
    n == DRIVER_LIMIT stays on the driver, n == DRIVER_LIMIT + 1 goes
    distributed, and both sides give the same components from the
    caller's edge columns."""
    from arabicner_spark.operators import components

    calls = []
    real = components.connected_components
    monkeypatch.setattr(
        components, "connected_components", lambda *a: calls.append(1) or real(*a)
    )
    edges = [("b", "a"), ("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")]  # 3 canonical
    df = spark.createDataFrame(edges, "u string, v string")
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}

    def comps(limit):
        monkeypatch.setattr(components, "DRIVER_LIMIT", limit)
        got = components.connected_components_adaptive(df, "u", "v")
        return {(r.node, r.component) for r in got.collect()}

    assert comps(3) == want and calls == []
    assert comps(2) == want and calls == [1]
