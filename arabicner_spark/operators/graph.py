"""Graph analytics over the materialized KG.

The reference has no graph algorithms (it is an NER trainer); the
north-star KG (nodes/edges tables) naturally wants them.  Two families:

* Iterative operators, the ITERATIVE dataflow class the
  connected-components operator (operators/components.py) also
  belongs to: a driver loop of joins/aggregations with
  ``localCheckpoint`` per round to cut lineage (SURVEY.md section 4:
  iterative fixpoints are orchestration, not planning — no custom
  Catalyst rule needed).  ``pagerank_exact`` and
  ``pagerank_personalized_exact`` (fixed-point integer),
  ``temporal_reach``, ``label_propagation``, ``kcore`` /
  ``kcore_fixpoint`` and the BFS frontier loop ``bfs_depths``.
* Join dataflows: ``triangle_count`` via degree-ordered edge
  orientation (the standard trick that bounds wedge fan-out by
  arboricity instead of max degree, so the wedge self-join never
  explodes on skewed degree distributions) and ``neighbor_jaccard``
  link prediction via one adjacency self-join + one aggregate.

Every operator reads its edges from (src, dst) columns, and
``temporal_reach`` also reads the edge time from ``ts_epoch``.

Local replay.  The fixed-point PageRanks, temporal reach, LPA and the
k-core peel are pure integer functions of the edge set — integer sums,
min-folds and vote counts are order-independent — so a vectorized
numpy simulation of the same rounds returns the identical table.  When
every input fits under ``KCORE_LOCAL_EDGE_LIMIT`` rows, :func:`_replay`
(the one gate) collects it to the driver once and replays it there,
trading O(rounds) scheduler round-trips for one Arrow collect.  Past
the limit, or on NULLs or keys that are not all integers or all
strings, the distributed loop runs and its state stays in Spark (one
row per node).  Each operator pins local == distributed in the tests.

PageRank semantics (classic power iteration in units of 1/PR_SCALE,
damping d in percent, every division a floor):
  pr_0(v)   = PR_SCALE // N
  pr_t+1(v) = PR_SCALE*(100-d) // (100*N)
              + (d * sum_{(u,v) in E} pr_t(u) // out_degree(u)) // 100
over the DISTINCT edge set; dangling mass (nodes with no out-edges) is
dropped, matching the unrolled SQL oracle exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from arabicner_spark.sources.io import local_table

# Rows per input up to which the iterative operators replay on the
# driver: 8M edges ~ 128 MB of Arrow, 40x components.py's driver
# union-find limit (DRIVER_LIMIT, 200,000 edges collected as rows).
KCORE_LOCAL_EDGE_LIMIT = 8_000_000

PR_SCALE = 10**9  # fixed-point unit of the exact PageRanks: 1 rank = 1e9


def _replay(edges: DataFrame, name: str, dtype, sim, *frames: DataFrame):
    """The one local-replay gate: -> (node, ``name``) rows of
    ``sim(*columns)`` over the collected ``frames``, typed like the
    distributed loop's output (node keeps ``edges.src``'s type), or
    None: run the distributed loop.

    One bounded ``limit(KCORE_LOCAL_EDGE_LIMIT + 1).toArrow()`` per
    frame is both the size gate and the driver input.  The loop runs
    when a frame passes the limit, holds a NULL (SQL null-join
    semantics), or when the key columns (all but a time column ``t``)
    are not all Arrow integers or all Arrow strings — the types
    ``np.unique`` orders like Spark.  ``sim`` returns None to refuse
    an input by its own operator's rule."""
    cols, kinds = [], set()
    for df in frames:
        tbl = df.limit(KCORE_LOCAL_EDGE_LIMIT + 1).toArrow()
        kinds |= {
            "int" if pa.types.is_integer(f.type)
            else "str" if pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
            else None
            for f in tbl.schema
            if f.name != "t"
        }
        if (
            tbl.num_rows > KCORE_LOCAL_EDGE_LIMIT
            or kinds not in ({"int"}, {"str"})
            or any(c.null_count for c in tbl.columns)
        ):
            return None
        cols.extend(c.to_numpy() for c in tbl.columns)
    rows = sim(*cols)
    if rows is None:
        return None
    schema = StructType(
        [StructField("node", edges.schema["src"].dataType), StructField(name, dtype)]
    )
    return local_table(edges.sparkSession, rows, schema)


def _node_set(e: DataFrame) -> DataFrame:
    """Distinct endpoints of an (src, dst) edge set as ``node``,
    materialized once: the PageRank loops read it every round."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _adjacency(und: DataFrame) -> DataFrame:
    """Both directions of an undirected (a, b) edge set as (node,
    peer), materialized once: every caller reads it more than once, and
    DataFrame DAGs have no common-subexpression reuse."""
    return (
        und.select(F.col("a").alias("node"), F.col("b").alias("peer"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("peer")))
        .localCheckpoint(eager=True)
    )


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic: (node, rank_i) with
    rank_i in units of 1/PR_SCALE.

    Classic power iteration, but every quantity is a BIGINT and every
    division is integral (``div``), so the result is bit-identical
    regardless of partitioning, engine, or accumulation order — float
    ``sum(double)`` depends on reduction order and can land on a
    rounding boundary, flipping a value-hash gate (the exact drift mode
    the suite elsewhere avoids via integer cents).  The per-step floor
    loses < 1e-9 of mass per edge — far below any ranking-relevant
    signal — and buys cross-engine exactness, which is what a
    correctness GATE needs.

    ``damping_pct`` is the damping factor in percent (85 = 0.85) so the
    damping multiply stays integral: inflow*85 div 100.  This is
    :func:`pagerank_personalized_exact` with every node a seed.
    """
    return _pagerank_fixed(edges, None, iterations, damping_pct)


def pagerank_personalized_exact(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """PERSONALIZED PageRank in the same fixed-point algebra as
    :func:`pagerank_exact`: the teleport mass returns to the ``seeds``
    node set instead of spreading uniformly, so ranks measure
    relevance TO the seeds — the entity-neighborhood relevance query a
    KG serves ("which entities matter around these seeds"), vs global
    importance.  seeds = DataFrame with a ``node`` column; initial
    mass and the per-step (1-d) teleport both split integrally over
    the seed count.  Same per-round shape: one join + one
    map-side-combinable sum + localCheckpoint."""
    return _pagerank_fixed(edges, seeds, iterations, damping_pct)


def _pagerank_fixed(edges, seeds, iterations, damping_pct) -> DataFrame:
    """The fixed-point loop of both exact PageRanks over a (node,
    base_i, init_i) table; ``seeds`` None makes every node a seed."""
    if not 0 <= damping_pct <= 100:
        # ranks would go negative, where Python's floor division and
        # SQL ``div`` (truncation) disagree
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    # same-name aliases give fresh attribute ids: the plan that
    # GRAPH_JOB_BUDGET and the registry benchmark were measured on
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    frames = [e] if seeds is None else [e, seeds.select("node").distinct()]
    local = _replay(
        edges, "rank_i", LongType(),
        lambda s, d, sd=None: _ppr_local_sim(
            s, d, np.concatenate([s, d]) if sd is None else sd, iterations, damping_pct
        ),
        *frames,
    )
    if local is not None:
        return local
    nodes = _node_set(e)
    if seeds is None:
        n_seeds, marked = nodes.count(), nodes.withColumn("seed", F.lit(True))
    else:
        # seeds absent from the edge set would silently leak their share
        # of teleport/initial mass (mass splits over the seed COUNT but
        # only in-graph seeds receive it) — intersect first
        sd = frames[1].join(nodes, "node", "left_semi").localCheckpoint(eager=True)
        n_seeds = sd.count()
        marked = nodes.join(sd.withColumn("seed", F.lit(True)), "node", "left")
    if n_seeds < 1:
        raise ValueError("pagerank needs a seed set intersecting a non-empty graph")
    nodes_b = marked.select(
        "node",
        *(
            F.when(F.col("seed"), F.lit(v)).otherwise(F.lit(0)).cast("long").alias(c)
            for c, v in (
                ("base_i", (PR_SCALE * (100 - damping_pct)) // (100 * n_seeds)),
                ("init_i", PR_SCALE // n_seeds),
            )
        ),
    )
    if seeds is not None:
        nodes_b = nodes_b.localCheckpoint(eager=True)  # joined every round
    out_deg = e.groupBy("src").agg(F.count("*").alias("out"))
    ranks = nodes_b.select("node", F.col("init_i").alias("rank_i"))
    for _ in range(iterations):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_i div out").cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        ranks = (
            nodes_b.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.col("base_i")
                    + F.expr(f"(coalesce(inflow, 0) * {damping_pct}) div 100")
                ).cast("long").alias("rank_i"),
            )
            .localCheckpoint(eager=True)  # cut lineage per round
        )
    return ranks


def _ppr_local_sim(s_arr, d_arr, seed_arr, iterations: int, damping_pct: int) -> list:
    """In-memory replay of the fixed-point PageRank loop over a
    collected DISTINCT edge list: same integer init/base per seed, same
    per-edge ``rank_i div out``, same ``(inflow * d) div 100`` — every
    quantity an int64 and every division a floor over non-negative
    values, so the result is bit-identical to the distributed loop
    (integer sums are order-independent).  Returns [(node, rank_i)]
    for every node of the edge set; raises like the distributed path
    when no seed intersects the graph."""
    nodes, inv = np.unique(np.concatenate([s_arr, d_arr]), return_inverse=True)
    m = len(s_arr)
    si, di = inv[:m], inv[m:]
    n = len(nodes)
    seed_vals = np.unique(seed_arr)
    pos = np.searchsorted(nodes, seed_vals)
    in_range = pos < n
    pos = pos[in_range]
    seed_idx = pos[nodes[pos] == seed_vals[in_range]]
    n_seeds = int(seed_idx.size)
    if n_seeds < 1:
        raise ValueError("pagerank needs a seed set intersecting a non-empty graph")
    base_i = np.zeros(n, dtype=np.int64)
    base_i[seed_idx] = (PR_SCALE * (100 - damping_pct)) // (100 * n_seeds)
    out = np.bincount(si, minlength=n).astype(np.int64)
    rank = np.zeros(n, dtype=np.int64)
    rank[seed_idx] = PR_SCALE // n_seeds
    for _ in range(iterations):
        c = rank[si] // out[si]  # out[si] >= 1: si indexes edge sources
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, di, c)
        rank = base_i + (inflow * int(damping_pct)) // 100
    return list(zip(nodes.tolist(), rank.tolist()))


def temporal_reach(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Time-respecting reachability: (node, first_reach) — the
    earliest arrival time at each node reachable from the ``seeds``
    within ``rounds`` hops, where an edge may only be traversed at or
    AFTER the time you arrived at its source (the defining constraint
    of temporal graphs: a path must move forward in time — static
    reachability overcounts by following edges that happened before
    you got there).  Seeds start at time 0.  Per round: one
    frontier-edge equi-join with the time filter + one min agg —
    map-side combinable, state one row per reached node,
    localCheckpoint per round; bounded rounds = deterministic +
    unrolled-CTE-exact (the bfs_depths convention)."""
    if rounds < 1:
        raise ValueError(f"temporal_reach needs rounds >= 1, got {rounds}")
    e = edges.select(  # same-name aliases as in _pagerank_fixed
        F.col("src").alias("src"), F.col("dst").alias("dst"), F.col("ts_epoch").alias("t")
    ).distinct().localCheckpoint(eager=True)
    sd = seeds.select("node").distinct()
    local = _replay(
        edges, "first_reach", LongType(),
        lambda s, d, t, seed: _treach_local_sim(s, d, t, seed, rounds),
        e, sd,
    )
    if local is not None:
        return local
    arr = sd.select("node", F.lit(0).cast("long").alias("first_reach"))
    for _ in range(rounds):
        step = (
            arr.join(e, arr["node"] == e["src"])
            .where(F.col("t") >= F.col("first_reach"))
            .select(F.col("dst").alias("node"), F.col("t").alias("first_reach"))
        )
        arr = (
            arr.unionByName(step)
            .groupBy("node")
            .agg(F.min("first_reach").cast("long").alias("first_reach"))
            .localCheckpoint(eager=True)
        )
    return arr


def _treach_local_sim(s_arr, d_arr, t_arr, seed_arr, rounds: int) -> list | None:
    """In-memory replay of temporal_reach's frontier loop over a
    collected DISTINCT (src, dst, t) edge list: per round every edge
    whose source is reached and whose t >= the source's arrival
    relaxes its destination with min(t) — the same min-fold as the
    distributed groupBy, so results are identical (min over int64 is
    order-independent).  Seeds start at 0 and stay in the output even
    when absent from the edge set (the distributed union semantics).
    Returns [(node, first_reach)] for every reached node, or None for
    non-integer times or a time equal to int64.max, the replay's
    "unreached" sentinel."""
    inf = np.iinfo(np.int64).max
    if t_arr.dtype.kind not in "iu" or (t_arr == inf).any():
        return None
    seed_vals = np.unique(seed_arr)
    nodes, inv = np.unique(
        np.concatenate([s_arr, d_arr, seed_vals]), return_inverse=True
    )
    m = len(s_arr)
    si, di, sdi = inv[:m], inv[m : 2 * m], inv[2 * m :]
    fr = np.full(len(nodes), inf, dtype=np.int64)
    fr[sdi] = 0
    t64 = t_arr.astype(np.int64)
    for _ in range(rounds):
        reach = fr[si]
        valid = (reach != inf) & (t64 >= reach)
        if not valid.any():
            break  # empty frontier step: further rounds are no-ops
        np.minimum.at(fr, di[valid], t64[valid])  # reach holds the old values
    reached = np.flatnonzero(fr != inf)
    return list(zip(nodes[reached].tolist(), fr[reached].tolist()))


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as (a, b) with a < b, self-loops dropped.

    Works for any orderable node id type (string entity ids, bigint
    user ids) — ``least``/``greatest`` use the column's native order.
    """
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """-> (node, n_triangles) for every node in >=1 triangle.

    Degree-ordered orientation: every undirected edge is directed from
    its lower-(degree, id) endpoint to the higher one, so each triangle
    {x < y < z} (in that total order) is counted exactly once as the
    wedge y<-x->z closed by oriented edge y->z.  The wedge self-join
    fans out per node only over its ORIENTED out-neighbors — bounded by
    graph arboricity, not raw degree, which is what keeps hub nodes
    from exploding the shuffle at scale.  Three joins + one aggregate;
    no CartesianProduct anywhere (plan-pinned in tests).
    """
    # und feeds deg AND the orientation join; oriented feeds the wedge
    # self-join twice plus the closure join.  DataFrame DAGs have no
    # common-subexpression reuse, so without materialization the
    # upstream build (a self-join over the raw edges) would replay once
    # per reference — localCheckpoint makes each diamond input compute
    # exactly once (the pagerank pattern).
    und = undirected_edges(edges).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    d2 = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = d2.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)  # referenced 3x (two wedge arms + closure)
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("z"), F.col("dv").alias("dz")
    )
    wedges = o1.join(o2, "u").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closer = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tris = wedges.join(closer, ["y", "z"]).select("u", "y", "z")
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("y").alias("node")))
        .unionByName(tris.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").cast("bigint").alias("n_triangles"))


def neighbor_jaccard(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Link prediction: -> (node_a, node_b, common, jaccard) for node
    pairs sharing >= ``min_common`` neighbors (pair itself need not be
    an edge).  jaccard = |N(a) & N(b)| / |N(a) | N(b)| over DISTINCT
    neighborhoods.  One adjacency self-join keyed on the shared
    neighbor (the shuffle key is the wedge center, so AQE's skew split
    handles hub centers) + one aggregate + a vocabulary-sized degree
    join.  Single IEEE divide per row — deterministic across engines.
    """
    # adj feeds the degree agg and BOTH self-join arms
    adj = _adjacency(undirected_edges(edges))
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))  # adj is distinct
    x = adj.select(F.col("node").alias("node_a"), "peer")
    y = adj.select(F.col("node").alias("node_b"), "peer")
    pairs = (
        x.join(y, "peer")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("bigint").alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs.join(deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da")), "node_a")
        .join(deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db")), "node_b")
        .select(
            "node_a",
            "node_b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def bfs_depths(
    edges: DataFrame,
    sources: list,
    max_depth: int = 3,
) -> DataFrame:
    """Bounded-depth BFS over the undirected graph: -> (node, depth)
    with the MINIMUM hop count from any source, depth <= max_depth;
    sources appear at depth 0 even if isolated.

    The iterative frontier loop: each round is one join (frontier x
    adjacency) + one anti-join against the visited set + distinct,
    with ``localCheckpoint`` cutting lineage.  State is one row per
    reached node — never collected to the driver.  Depth is bounded,
    so the unrolled-CTE SQL oracle stays exact.
    """
    adj = _adjacency(undirected_edges(edges))
    seed_df = local_table(
        edges.sparkSession,
        [(s,) for s in sources],
        StructType([StructField("node", edges.schema["src"].dataType)]),
    ).distinct()
    visited = seed_df.withColumn("depth", F.lit(0).cast("int")).localCheckpoint(
        eager=True
    )
    frontier = visited.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, "node")
            .select(F.col("peer").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():  # one-boolean convergence action, like components.py
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation, made
    deterministic: labels start as the node id; each round every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label.  Classic async LPA breaks ties randomly and
    depends on visit order — useless under a value-hash gate; the
    synchronous variant with a total tie order is a pure function of
    the edge set, so the unrolled-CTE SQL oracle matches exactly.
    Fixed round count (synchronous LPA can 2-cycle on bipartite
    structures, so "until stable" is not well-defined anyway).

    Scale shape per round: one join (adjacency x labels, keyed on the
    node id) + one (node, label) count agg (map-side combinable) + one
    max_by arg-max agg — no window, no per-node sort.  State is one
    (node, label) row per node; localCheckpoint cuts lineage per round
    like pagerank/components.
    """
    und = undirected_edges(edges).localCheckpoint(eager=True)
    local = _replay(
        edges, "label", LongType(), lambda a, b: _lpa_local(a, b, rounds), und
    )
    if local is not None:
        return local
    adj = _adjacency(und)
    labels = adj.select("node").distinct().select(
        "node", F.col("node").cast("long").alias("label")
    )
    for _ in range(rounds):
        labels = _lpa_round(adj, labels).localCheckpoint(eager=True)
    return labels.select("node", F.col("label").cast("long").alias("label"))


def _lpa_local(a_arr, b_arr, rounds: int) -> list | None:
    """Vectorized synchronous LPA over an in-memory undirected edge
    list: per round each node adopts the most frequent neighbor label,
    ties to the SMALLEST label — exactly _lpa_round's
    max_by(label, (n, -label)) arg-max.  Labels are node ids; nodes
    are compacted to sorted indices, so index order == label order and
    the tie-break carries over.  Returns [(node, label_long)], or None
    for non-integer ids (a label is the node id cast to long)."""
    if a_arr.dtype.kind not in "iu":
        return None
    nodes, inv = np.unique(np.concatenate([a_arr, b_arr]), return_inverse=True)
    m = len(a_arr)
    ai, bi = inv[:m], inv[m:]
    n = len(nodes)
    node_side = np.concatenate([ai, bi]).astype(np.int64)
    peer_side = np.concatenate([bi, ai]).astype(np.int64)
    label = np.arange(n, dtype=np.int64)  # index == sorted-id order
    for _ in range(rounds):
        pl = label[peer_side]
        key = node_side * n + pl
        uk, cnt = np.unique(key, return_counts=True)
        un, ul = np.divmod(uk, n)
        order = np.lexsort((ul, -cnt, un))
        _, first = np.unique(un[order], return_index=True)
        chosen = order[first]
        label[un[chosen]] = ul[chosen]  # pl holds the old labels
    return list(zip(nodes.tolist(), nodes[label].astype(np.int64).tolist()))


def _lpa_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA step: vote counts + deterministic arg-max.
    The arg-max is a max_by AGGREGATE over (n, -label) — map-side
    combinable — not a per-node Window sort (plan-pinned in
    tests/test_plans.py)."""
    votes = (
        adj.join(labels.select(F.col("node").alias("peer"), "label"), "peer")
        .groupBy("node", "label")
        .agg(F.count("*").alias("n"))
    )
    return votes.groupBy("node").agg(
        F.max_by(
            "label", F.struct(F.col("n"), (-F.col("label")).alias("negl"))
        ).alias("label")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` rounds of dropping nodes
    whose degree in the CURRENT induced subgraph is < k; returns the
    survivors with their final-round degree.  The full k-core is the
    fixpoint of this peel; a fixed round count keeps the run
    deterministic and the unrolled SQL oracle exact (the same
    bounded-iteration convention as bfs_depths).  This is
    :func:`kcore_fixpoint` capped at ``rounds`` waves: waves past
    stabilization are no-ops, so stopping early equals running all
    ``rounds``."""
    if rounds < 1:
        raise ValueError(f"kcore needs rounds >= 1, got {rounds}")
    return kcore_fixpoint(edges, k, max_rounds=rounds)[0]


def _kcore_peel_local(a_arr, b_arr, k: int, max_rounds: int, waves: list) -> list:
    """Exact wave-by-wave peel over an in-memory undirected distinct
    edge list, fully vectorized (numpy CSR) — the same waves the
    distributed loop would run (wave w removes every node whose degree
    induced by wave w-1's survivors is < k; decrements from wave w's
    removals land at the START of wave w+1, so a max_rounds cap leaves
    degrees exactly where the distributed peel would).
    Returns [(node, deg)] and appends the waves run to ``waves``."""
    nodes, inv = np.unique(np.concatenate([a_arr, b_arr]), return_inverse=True)
    m = len(a_arr)
    ai, bi = inv[:m], inv[m:]
    n = len(nodes)
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    order = np.argsort(src, kind="stable")
    dst_s = dst[order]
    counts = np.bincount(src, minlength=n).astype(np.int64)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])
    deg = counts.copy()
    alive = np.ones(n, dtype=bool)
    pending = None
    for rounds_run in range(1, max_rounds + 1):
        if pending is not None and pending.size:
            cnt = indptr[pending + 1] - indptr[pending]
            total = int(cnt.sum())
            if total:
                rows = np.repeat(indptr[pending], cnt) + (
                    np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                )
                nbr = dst_s[rows]
                nbr = nbr[alive[nbr]]
                if nbr.size:
                    deg = deg - np.bincount(nbr, minlength=n)
        removed = np.flatnonzero(alive & (deg < k))
        if removed.size == 0:
            break
        alive[removed] = False
        pending = removed
    waves.append(rounds_run)
    surv = np.flatnonzero(alive)
    return list(zip(nodes[surv].tolist(), deg[surv].tolist()))


def kcore_fixpoint(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """TRUE k-core: peel until the survivor set is stable — the
    fixpoint the bounded :func:`kcore` approximates from above (a
    fixed 3-round peel returns a superset on deep peeling chains,
    e.g. a path graph where each round only erodes the two ends).

    -> (survivors (node, deg int), rounds_run).  The k-core fixpoint
    is peel-order independent, so any correct peel yields the same
    survivor set and induced degrees; rounds_run counts the waves
    executed including the empty confirming wave, capped by
    ``max_rounds``.

    DELTA peeling: degrees are computed over the full adjacency ONCE;
    each wave subtracts only the edges incident to the just-removed
    nodes (adjacency joined against the wave's small removal set)
    instead of re-aggregating the whole induced subgraph, so per-wave
    shuffle bytes are proportional to the removal wave, not the graph.
    Below ``KCORE_LOCAL_EDGE_LIMIT`` distinct undirected edges the same
    waves replay on the driver (:func:`_replay`).
    """
    if max_rounds < 1:
        raise ValueError(f"kcore_fixpoint needs max_rounds >= 1, got {max_rounds}")
    und = undirected_edges(edges).localCheckpoint(eager=True)
    waves: list = []
    local = _replay(
        edges, "deg", IntegerType(),
        lambda a, b: _kcore_peel_local(a, b, k, max_rounds, waves),
        und,
    )
    if local is not None:
        return local, waves[0]
    adj = _adjacency(und)
    # full degrees once; every later wave only applies decrements from
    # the previous wave's removals (landing at the START of the next
    # wave, so wave w's degrees are exactly those induced by wave
    # w-1's survivors — the bounded peel's semantics, cap included)
    state = adj.groupBy("node").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=True
    )
    pending = None
    for rounds_run in range(1, max_rounds + 1):
        if pending is not None:
            dec = (
                adj.join(pending, "node")
                .groupBy(F.col("peer").alias("node"))
                .agg(F.count("*").alias("dec"))
            )
            state = (
                state.where(F.col("deg") >= k)
                .join(dec, "node", "left")
                .select(
                    "node", (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg")
                )
                .localCheckpoint(eager=True)
            )
        removed = state.where(F.col("deg") < k).select("node").localCheckpoint(
            eager=True
        )
        if removed.isEmpty():
            break
        pending = removed
    return state.where(F.col("deg") >= k).select(
        "node", F.col("deg").cast("int").alias("deg")
    ), rounds_run
