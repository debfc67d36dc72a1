"""operators/graph.pagerank_exact vs a hand-computed power-iteration fixture.

Graph: A->B, A->C, B->C, C->A (3 nodes, no dangling nodes).
Units of 1/PR_SCALE (1e9), every division a floor, damping 85/100:
base = 1e9 * 15 // 300 = 50_000_000, pr0 = 1e9 // 3 = 333_333_333 each,
out: A=2, B=1, C=1.

One step:
  inflow(A) = pr(C)//1           = 333_333_333 -> base + inflow*85//100 = 333_333_333
  inflow(B) = pr(A)//2           = 166_666_666 ->                        191_666_666
  inflow(C) = pr(A)//2 + pr(B)//1 = 499_999_999 ->                       474_999_999
"""

import pytest

EDGES = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")]
ONE_STEP = {"A": 333_333_333, "B": 191_666_666, "C": 474_999_999}


def _ranks(spark, edges, iterations):
    from arabicner_spark.operators.graph import pagerank_exact

    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.rank_i for r in pagerank_exact(df, iterations=iterations).collect()}


def test_pagerank_one_step_hand_fixture(spark):
    assert _ranks(spark, EDGES, 1) == ONE_STEP


def test_pagerank_mass_conserved_without_dangling(spark):
    # no dangling nodes: the mass stays PR_SCALE but for the floors, which
    # lose < N at the start and < |E| + 2N per step (edge shares, base,
    # damping), and never gain
    from arabicner_spark.operators.graph import PR_SCALE

    n, m = 3, len(EDGES)
    for it in (1, 5):
        total = sum(_ranks(spark, EDGES, it).values())
        assert PR_SCALE - n - it * (m + 2 * n) <= total <= PR_SCALE


def test_pagerank_multi_edges_collapse(spark):
    """Duplicate (src, dst) rows must not double inflow (distinct set)."""
    assert _ranks(spark, EDGES + EDGES, 1) == ONE_STEP


# ---------------------------------------------------------------- triangles
# Fixture: A-B, B-C, C-A (one triangle), C-D, D-E (a tail).
UND = [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D"), ("D", "E")]


def test_triangle_count_hand_fixture(spark):
    from arabicner_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(UND, "src string, dst string")
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {"A": 1, "B": 1, "C": 1}  # D, E in no triangle -> absent


def test_triangle_count_normalizes_direction_and_dupes(spark):
    """Reversed and duplicated edge rows collapse to one undirected edge."""
    from arabicner_spark.operators.graph import triangle_count

    noisy = UND + [(b, a) for a, b in UND] + UND
    edges = spark.createDataFrame(noisy, "src string, dst string")
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {"A": 1, "B": 1, "C": 1}


def test_triangle_count_k4_counts_each_corner(spark):
    """K4: 4 triangles total, every node in exactly 3."""
    from itertools import combinations

    from arabicner_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        list(combinations("WXYZ", 2)), "src string, dst string"
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {"W": 3, "X": 3, "Y": 3, "Z": 3}


def test_triangle_plan_has_no_cartesian_product(spark):
    from arabicner_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(UND, "src string, dst string")
    plan = triangle_count(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------------------ jaccard
def test_neighbor_jaccard_hand_fixture(spark):
    from arabicner_spark.operators.graph import neighbor_jaccard

    # N(A)={B,C} N(B)={A,C} N(C)={A,B,D} N(D)={C,E} N(E)={D}
    edges = spark.createDataFrame(UND, "src string, dst string")
    got = {
        (r.node_a, r.node_b): (r.common, r.jaccard)
        for r in neighbor_jaccard(edges, min_common=1).collect()
    }
    assert got[("A", "B")] == (1, round(1 / 3, 4))  # common {C}, union {A,B,C}
    assert got[("A", "C")] == (1, 0.25)             # common {B}, union size 4
    assert got[("B", "C")] == (1, 0.25)
    assert got[("A", "D")] == (1, round(1 / 3, 4))  # common {C}
    assert got[("C", "E")] == (1, round(1 / 3, 4))  # common {D}
    assert ("D", "E") not in got                    # no shared neighbor
    assert ("A", "E") not in got


def test_neighbor_jaccard_min_common_filters(spark):
    from arabicner_spark.operators.graph import neighbor_jaccard

    edges = spark.createDataFrame(UND, "src string, dst string")
    assert neighbor_jaccard(edges, min_common=2).count() == 0  # max common is 1


# ---------------------------------------------------------------------- bfs
def test_bfs_depths_hand_fixture(spark):
    from arabicner_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(UND, "src string, dst string")
    got = {r.node: r.depth for r in bfs_depths(edges, ["A"], max_depth=2).collect()}
    assert got == {"A": 0, "B": 1, "C": 1, "D": 2}  # E is 3 hops away


def test_bfs_isolated_seed_is_depth_zero(spark):
    from arabicner_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(UND, "src string, dst string")
    got = {r.node: r.depth for r in bfs_depths(edges, ["Z"], max_depth=3).collect()}
    assert got == {"Z": 0}  # early-break on empty frontier


def test_bfs_multi_source_takes_min_depth(spark):
    from arabicner_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(UND, "src string, dst string")
    got = {r.node: r.depth for r in bfs_depths(edges, ["A", "E"], max_depth=3).collect()}
    assert got == {"A": 0, "E": 0, "B": 1, "C": 1, "D": 1}


def test_orientation_kills_hub_wedge_blowup(spark):
    """The at-scale property behind degree-ordered orientation: a hub
    of degree D generates C(D,2) wedge candidates in a naive
    neighbor-pair join (~500k at D=1000), but ZERO oriented wedges in a
    star graph — every edge points leaf->hub, so no node has two
    out-neighbors.  Measured on the operator's own intermediate."""
    from pyspark.sql import functions as F

    from arabicner_spark.operators.graph import triangle_count, undirected_edges

    hub_edges = [("hub", f"leaf{i}") for i in range(1000)]
    edges = spark.createDataFrame(hub_edges, "src string, dst string")
    # end-to-end: no triangles, and the job completes instantly because
    # the wedge self-join never materializes the C(1000,2) pairs
    assert triangle_count(edges).count() == 0

    # the naive wedge count for contrast (computed arithmetically, not
    # joined): C(1000, 2)
    assert 1000 * 999 // 2 == 499500


def test_kcore_peel_cascades(spark):
    """A 3-path dies in two peel rounds (endpoints first, then the
    stranded middle); a triangle plus a pendant keeps only the
    triangle, each survivor at degree 2."""
    from arabicner_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3),              # path: all three must die
         (10, 11), (11, 12), (10, 12), (12, 13)],  # triangle + pendant 13
        "src bigint, dst bigint",
    )
    out = {(r.node, r.deg) for r in kcore(edges, k=2, rounds=3).collect()}
    assert out == {(10, 2), (11, 2), (12, 2)}


def test_kcore_bounded_rounds_vs_fixpoint(spark):
    """A long path needs one round per layer: with too few rounds the
    peel is incomplete (documented bounded-iteration semantics), with
    enough rounds it reaches the true (empty) 2-core."""
    from arabicner_spark.operators.graph import kcore

    path = [(i, i + 1) for i in range(6)]  # 7-node path
    edges = spark.createDataFrame(path, "src bigint, dst bigint")
    assert kcore(edges, k=2, rounds=1).count() > 0
    assert kcore(edges, k=2, rounds=4).count() == 0


def test_kcore_fixpoint_converges_where_bounded_underpeels(spark):
    """The fixpoint peel finishes what a 3-round bounded peel cannot:
    a 12-node path erodes two ends per round (true 2-core = empty,
    needs ~6 rounds), so kcore(rounds=3) returns a non-empty superset
    while kcore_fixpoint reaches the empty fixpoint and reports the
    rounds it took.  A triangle glued to the path survives both."""
    from arabicner_spark.operators.graph import kcore, kcore_fixpoint

    path = [(i, i + 1) for i in range(11)]  # 12-node path: deep peel
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(path + tri, "src bigint, dst bigint")

    bounded = kcore(edges, k=2, rounds=3)
    fixed, rounds_run = kcore_fixpoint(edges, k=2)
    out = {(r.node, r.deg) for r in fixed.collect()}

    assert bounded.count() > 3  # under-peeled: path remnants remain
    assert out == {(100, 2), (101, 2), (102, 2)}  # true 2-core
    assert rounds_run >= 5  # the deep chain actually took many rounds


def test_kcore_fixpoint_stops_immediately_on_stable_graph(spark):
    """A clique is its own 2-core: the survivor count is stable after
    round 1, so the loop must stop at 2 rounds (1 peel + 1 confirm)."""
    from arabicner_spark.operators.graph import kcore_fixpoint

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(clique, "src bigint, dst bigint")
    fixed, rounds_run = kcore_fixpoint(edges, k=2)
    assert fixed.count() == 4
    assert rounds_run == 1  # no node dropped in round 1 -> stop


def test_kcore_rejects_nonpositive_rounds(spark):
    import pytest as _pytest

    from arabicner_spark.operators.graph import kcore, kcore_fixpoint

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with _pytest.raises(ValueError):
        kcore(edges, k=2, rounds=0)
    with _pytest.raises(ValueError):
        kcore_fixpoint(edges, k=2, max_rounds=0)


def test_gated_kcore_fixpoint_dissolves_chain_fixture(spark):
    """The gated graph_kcore_fixpoint query glues a 40-node chain onto
    the co-activity graph precisely because bounded peeling keeps its
    interior: no chain node may survive the fixpoint, while a 3-round
    bounded peel of the SAME graph retains the 34 interior nodes."""
    from pyspark.sql import functions as F

    from arabicner_spark.operators.graph import kcore
    from arabicner_spark.plans import testdata_queries as tq

    sf_dir = "/root/testdata/sf0.001"
    out = tq.q_graph_kcore_fixpoint(spark, sf_dir)
    assert out.where(F.col("node") >= tq.KCORE_CHAIN_BASE).count() == 0

    chain = spark.range(tq.KCORE_CHAIN_LEN - 1).select(
        (F.col("id") + tq.KCORE_CHAIN_BASE).alias("src"),
        (F.col("id") + tq.KCORE_CHAIN_BASE + 1).alias("dst"),
    )
    g = tq._coactivity_edges(spark, sf_dir).unionByName(chain)
    bounded = kcore(g, k=2, rounds=3)
    assert (
        bounded.where(F.col("node") >= tq.KCORE_CHAIN_BASE).count()
        == tq.KCORE_CHAIN_LEN - 6  # two ends x 3 rounds eroded
    )


def test_personalized_pagerank_python_twin(spark):
    """Seeded fixed-point PPR equals a serial twin exactly, and mass
    concentrates around the seed vs the uniform variant."""
    from arabicner_spark.operators.graph import (
        PR_SCALE,
        pagerank_exact,
        pagerank_personalized_exact,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r["node"]: r["rank_i"]
        for r in pagerank_personalized_exact(e, seeds, iterations=4).collect()
    }

    nodes = sorted({s for s, _d in edges} | {d for _s, d in edges})
    out = {}
    for s, _d in edges:
        out[s] = out.get(s, 0) + 1
    base_s = (PR_SCALE * 15) // 100  # one seed
    rank = {n: (PR_SCALE if n == 1 else 0) for n in nodes}
    for _ in range(4):
        inflow = {n: 0 for n in nodes}
        for s, d in edges:
            inflow[d] += rank[s] // out[s]
        rank = {
            n: (base_s if n == 1 else 0) + (inflow[n] * 85) // 100 for n in nodes
        }
    assert got == rank
    # relevance is seed-local: node 2 (1 hop from seed) outranks node 5
    # (3 hops), while the uniform variant ranks the 4<->5 sink cycle top
    assert got[2] > got[5]
    uni = {
        r["node"]: r["rank_i"] for r in pagerank_exact(e, iterations=4).collect()
    }
    assert max(uni, key=uni.get) in (4, 5)


def test_temporal_reach_respects_time_and_matches_twin(spark):
    """An edge that fires BEFORE you arrive at its source is unusable:
    A->B@10 then B->C@5 must NOT reach C (static reachability would).
    Full operator output equals a serial forward-in-time twin."""
    from arabicner_spark.operators.graph import temporal_reach

    edges = [
        (1, 2, 10),   # A->B at 10
        (2, 3, 5),    # B->C at 5 < 10: dead for time-respecting paths
        (2, 4, 20),   # B->D at 20 >= 10: usable
        (4, 5, 15),   # D->E at 15 < 20: dead
        (4, 6, 30),
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint, ts_epoch bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r["node"]: r["first_reach"]
        for r in temporal_reach(e, seeds, rounds=4).collect()
    }
    assert got == {1: 0, 2: 10, 4: 20, 6: 30}
    assert 3 not in got and 5 not in got


def test_kcore_distributed_delta_branch_matches_local(spark, monkeypatch):
    """Force the distributed DELTA-peel loop (limit=0) and pin that
    survivors, degrees, and rounds_run equal the local wave simulation
    on a deep-peel graph (path + triangle + a 4-clique tail), for the
    fixpoint and for the bounded peel over k in {1, 2, 3} x rounds in
    {1..4}."""
    from arabicner_spark.operators import graph

    path = [(i, i + 1) for i in range(9)]
    tri = [(100, 101), (101, 102), (100, 102)]
    clique = [(a, b) for a in range(200, 204) for b in range(a + 1, 204)]
    edges = spark.createDataFrame(path + tri + clique, "src bigint, dst bigint")
    sweep = [(k, rounds) for k in (1, 2, 3) for rounds in range(1, 5)]

    def bounded_sweep():
        return {
            (k, rounds): {(r.node, r.deg) for r in graph.kcore(edges, k, rounds).collect()}
            for k, rounds in sweep
        }

    local_fixed, local_rounds = graph.kcore_fixpoint(edges, k=2)
    local_bounded = {(r.node, r.deg) for r in graph.kcore(edges, k=2, rounds=2).collect()}
    local_sweep = bounded_sweep()

    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    dist_fixed, dist_rounds = graph.kcore_fixpoint(edges, k=2)
    dist_bounded = {(r.node, r.deg) for r in graph.kcore(edges, k=2, rounds=2).collect()}

    assert {(r.node, r.deg) for r in dist_fixed.collect()} == {
        (r.node, r.deg) for r in local_fixed.collect()
    }
    assert dist_rounds == local_rounds
    assert dist_bounded == local_bounded
    assert bounded_sweep() == local_sweep


def test_ppr_local_simulation_matches_distributed(spark, monkeypatch):
    """r7: pagerank_personalized_exact gained a vectorized local
    branch (the kcore/LPA pattern; the loop is fixed-point integer
    algebra, so local == distributed bit-exactly).  Force the
    distributed loop and pin identical ranks on a graph with a sink
    cycle, a dangling node, and a multi-seed set."""
    from arabicner_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (4,), (99,)], "node bigint")  # 99 absent

    local = {
        (r.node, r.rank_i)
        for r in graph.pagerank_personalized_exact(e, seeds, iterations=5).collect()
    }
    se = spark.createDataFrame(
        [(f"E{a}", f"E{b}") for a, b in edges], "src string, dst string"
    )
    sseeds = spark.createDataFrame([("E1",), ("E4",)], "node string")
    slocal = {
        (r.node, r.rank_i)
        for r in graph.pagerank_personalized_exact(se, sseeds, iterations=5).collect()
    }
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    dist = {
        (r.node, r.rank_i)
        for r in graph.pagerank_personalized_exact(e, seeds, iterations=5).collect()
    }
    assert local == dist
    # string node ids (the KG's entity ids) take the local branch too
    sdist = {
        (r.node, r.rank_i)
        for r in graph.pagerank_personalized_exact(se, sseeds, iterations=5).collect()
    }
    assert slocal == sdist


def test_temporal_reach_local_simulation_matches_distributed(spark, monkeypatch):
    """r7: temporal_reach gained a vectorized local branch.  Force the
    distributed loop and pin identical arrivals on a graph with dead
    (time-decreasing) edges, a tie on arrival times, and a seed absent
    from the edge set (which must stay in the output at 0 — the union
    semantics)."""
    from arabicner_spark.operators import graph

    edges = [
        (1, 2, 10),
        (2, 3, 5),    # dead: 5 < 10
        (2, 4, 20),
        (4, 5, 15),   # dead: 15 < 20
        (4, 6, 30),
        (1, 4, 25),   # second path to 4, later than via 2
        (2, 6, 30),   # tie on node 6's arrival
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint, ts_epoch bigint")
    seeds = spark.createDataFrame([(1,), (77,)], "node bigint")  # 77 not in graph

    local = {
        (r.node, r.first_reach)
        for r in graph.temporal_reach(e, seeds, rounds=4).collect()
    }
    assert (77, 0) in local
    se = spark.createDataFrame(
        [(f"N{a}", f"N{b}", t) for a, b, t in edges],
        "src string, dst string, ts_epoch bigint",
    )
    sseeds = spark.createDataFrame([("N1",)], "node string")
    slocal = {
        (r.node, r.first_reach)
        for r in graph.temporal_reach(se, sseeds, rounds=4).collect()
    }
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    dist = {
        (r.node, r.first_reach)
        for r in graph.temporal_reach(e, seeds, rounds=4).collect()
    }
    assert local == dist
    # string node ids take the local branch too
    sdist = {
        (r.node, r.first_reach)
        for r in graph.temporal_reach(se, sseeds, rounds=4).collect()
    }
    assert slocal == sdist


def test_ppr_and_treach_null_keys_fall_back_to_distributed(spark):
    """Null src/dst/ts values route to the distributed loop (SQL
    null-join semantics) instead of crashing the object-array local
    simulation; the null node rides along with zero rank/unreached
    (personalized) or the base rank (uniform)."""
    from arabicner_spark.operators import graph

    e = spark.createDataFrame(
        [("a", "b"), (None, "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r.node: r.rank_i
        for r in graph.pagerank_personalized_exact(e, seeds, iterations=2).collect()
    }
    assert None in got and got[None] == 0 and got["a"] > 0

    te = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", None)], "src string, dst string, ts_epoch bigint"
    )
    tr = {
        r.node: r.first_reach
        for r in graph.temporal_reach(te, seeds, rounds=3).collect()
    }
    assert tr["a"] == 0 and tr["b"] == 5 and "c" not in tr

    # pagerank_exact too: the NULL node counts in n (4 here) and, never
    # joining, keeps the base rank 1e9 * 15 // 400
    ue = spark.createDataFrame(
        [("a", "b"), (None, "b"), ("b", "c"), ("c", "a"), ("c", None)],
        "src string, dst string",
    )
    pr = {r.node: r.rank_i for r in graph.pagerank_exact(ue, iterations=3).collect()}
    assert pr == {None: 37500000, "a": 143750000, "b": 159687500, "c": 173234375}


def test_lpa_local_simulation_matches_distributed(spark, monkeypatch):
    """r7: label_propagation gained a vectorized local branch.  Force
    the distributed loop and pin identical labels on a graph with
    contested votes and ties (two cliques bridged by a path)."""
    from arabicner_spark.operators import graph

    c1 = [(a, b) for a in range(0, 4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    bridge = [(3, 7), (7, 10)]
    edges = spark.createDataFrame(c1 + c2 + bridge, "src bigint, dst bigint")

    local = {(r.node, r.label) for r in graph.label_propagation(edges, rounds=3).collect()}
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    dist = {(r.node, r.label) for r in graph.label_propagation(edges, rounds=3).collect()}
    assert local == dist


def test_ppr_damping_validated_and_boundaries_match_distributed(spark, monkeypatch):
    """damping_pct outside [0, 100] is rejected on both paths (Python
    floor division and SQL ``div`` disagree once ranks go negative);
    the boundary values give identical local and distributed ranks."""
    from arabicner_spark.operators import graph

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")

    def ranks(d):
        got = graph.pagerank_personalized_exact(e, seeds, iterations=3, damping_pct=d)
        return {(r.node, r.rank_i) for r in got.collect()}

    local = {d: ranks(d) for d in (0, 100)}
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    assert {d: ranks(d) for d in (0, 100)} == local
    for limit in (0, 10**6):
        monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", limit)
        for bad in (-1, 101):
            with pytest.raises(ValueError, match="damping_pct"):
                graph.pagerank_personalized_exact(e, seeds, damping_pct=bad)
            with pytest.raises(ValueError, match="damping_pct"):
                graph.pagerank_exact(e, damping_pct=bad)


def test_temporal_reach_int64_max_time_matches_distributed(spark, monkeypatch):
    """An edge at t == int64.max collides with the local replay's
    "unreached" sentinel, so such edge sets take the distributed loop;
    the node reached at that time must stay in the output."""
    from arabicner_spark.operators import graph

    big = 2**63 - 1
    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, big), (3, 4, big), (1, 5, 7)],
        "src bigint, dst bigint, ts_epoch bigint",
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    want = {(1, 0), (2, 5), (3, big), (4, big), (5, 7)}
    got = {(r.node, r.first_reach) for r in graph.temporal_reach(e, seeds, rounds=3).collect()}
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    dist = {(r.node, r.first_reach) for r in graph.temporal_reach(e, seeds, rounds=3).collect()}
    assert got == dist == want


def test_pagerank_exact_local_replay_matches_distributed(spark, monkeypatch):
    """pagerank_exact replays on the driver as the personalized loop
    with every node a seed; force the distributed loop and pin
    identical ranks on integer and string ids, with a self-loop, a
    duplicate edge and a dangling source, at the damping boundaries."""
    from arabicner_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1), (2, 2), (1, 2)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    se = spark.createDataFrame([(f"E{a}", f"E{b}") for a, b in edges], "src string, dst string")

    def ranks():
        return [
            {(r.node, r.rank_i) for r in graph.pagerank_exact(g, iterations=4, damping_pct=d).collect()}
            for g in (e, se)
            for d in (0, 85, 100)
        ]

    local = ranks()
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    assert ranks() == local


def test_struct_ids_local_equals_distributed(spark, monkeypatch):
    """Struct node ids are neither all integers nor all strings, which
    np.unique cannot order, so the replay gate sends them to the
    distributed loop: the default call equals the forced one."""
    from arabicner_spark.operators import graph

    rows = [((1,), (2,), 10), ((2,), (3,), 20), ((3,), (1,), 30), ((3,), (4,), 40)]
    e = spark.createDataFrame(
        rows, "src struct<x: bigint>, dst struct<x: bigint>, ts_epoch bigint"
    )
    seeds = spark.createDataFrame([((1,),)], "node struct<x: bigint>")

    def run():
        fixed, waves = graph.kcore_fixpoint(e, k=2)
        outs = [
            graph.kcore(e, k=2, rounds=2),
            fixed,
            graph.pagerank_personalized_exact(e, seeds, iterations=3),
            graph.temporal_reach(e, seeds, rounds=3),
        ]
        return [set(map(tuple, df.collect())) for df in outs] + [waves]

    local = run()
    monkeypatch.setattr(graph, "KCORE_LOCAL_EDGE_LIMIT", 0)
    assert run() == local


# Spark jobs one call takes on a small in-memory graph (the local
# replay), collecting its result included.  Per-job overhead is what
# the registry's graph queries cost, so a change must not add jobs.
# pagerank_exact took 52 before it had a local replay.
GRAPH_JOB_BUDGET = {
    "pagerank_exact": 3,
    "pagerank_personalized_exact": 5,
    "temporal_reach": 5,
    "label_propagation": 3,
    "kcore": 3,
    "kcore_fixpoint": 3,
}


def test_graph_job_budget(spark):
    from arabicner_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1), (4, 6)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint").localCheckpoint(eager=True)
    te = spark.createDataFrame(
        [(a, b, 10 * a + b) for a, b in edges], "src bigint, dst bigint, ts_epoch bigint"
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(1,), (4,)], "node bigint").localCheckpoint(eager=True)
    calls = {
        "pagerank_exact": lambda: graph.pagerank_exact(e),
        "pagerank_personalized_exact": lambda: graph.pagerank_personalized_exact(e, seeds),
        "temporal_reach": lambda: graph.temporal_reach(te, seeds),
        "label_propagation": lambda: graph.label_propagation(e),
        "kcore": lambda: graph.kcore(e),
        "kcore_fixpoint": lambda: graph.kcore_fixpoint(e)[0],
    }
    sc = spark.sparkContext
    for name, call in calls.items():
        group = f"graph-job-budget-{name}"
        sc.setJobGroup(group, "graph job budget")
        try:
            call().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < jobs <= GRAPH_JOB_BUDGET[name], (name, jobs)
