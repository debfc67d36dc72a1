"""Connected components on a DataFrame edge list — the canonicalization
fixpoint the north rule requires (the reference has nothing iterative;
SURVEY.md section 2.B).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond") — O(log n) rounds, each
round two shuffles, vs O(diameter) for naive min-propagation.  Node ids
are strings; "min" is lexicographic, deterministic.

Scale notes:
  * each iteration ends in ``localCheckpoint(eager=True)`` to truncate
    lineage — without it the plan doubles per round and the driver OOMs
    compiling it long before data is the problem;
  * convergence test = (edge count, sum of per-edge md5-prefix
    checksums): one cheap agg, no collect of edges;
  * star-shaped output means the final "component of node" lookup is a
    single groupBy(min), no further joins.
"""

from __future__ import annotations

from typing import Dict, Iterable, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.sources.io import local_table

# large-star/small-star rounds before the loop stops unconverged
MAX_ITER = 25


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: (u < v), deduped, no self-loops."""
    return (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple:
    row = edges.select(
        F.count("*").alias("n"),
        F.sum(
            F.conv(F.substring(F.md5(F.encode(F.concat_ws("|", "a", "b"), "UTF-8")), 1, 12), 16, 10).cast("decimal(20,0)")
        ).alias("s"),
    ).collect()[0]
    return (row["n"], row["s"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least("mb", F.col("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = directed.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    self_edges = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return nbr_edges.union(self_edges)


# canonical edges the driver union-find takes
DRIVER_LIMIT = 200_000


def union_find(pairs: Iterable[Tuple]) -> Dict:
    """node -> its component's min node, for every node ``pairs``
    touch.  Union by min id keeps the canonical-min invariant cheap;
    nodes need only be mutually comparable."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def connected_components_adaptive(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Strategy pick from runtime stats (the AQE philosophy applied to
    the CC fixpoint): a vocabulary-sized edge set is solved with a
    driver-side union-find in one collect instead of O(log n) iterative
    shuffle rounds — each distributed round costs 2 shuffles + a
    checkpoint + a checksum job, pure scheduler overhead when the data
    fits in one task.  Edge sets past ``DRIVER_LIMIT`` take the
    distributed large-star/small-star path.  Both produce component =
    min node id, so results are interchangeable (asserted in tests)."""
    e = _canon(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # one bounded collect is both the size gate and the driver input;
    # past the gate the distributed path recomputes the edge set, which
    # costs less than checkpointing every small one
    rows = e.limit(DRIVER_LIMIT + 1).collect()
    if len(rows) > DRIVER_LIMIT:
        return connected_components(edges, src, dst)
    out = sorted(union_find((r["a"], r["b"]) for r in rows).items())
    return local_table(edges.sparkSession, out, "node string, component string")


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """edge list -> (node, component) where component = min node id of
    the component.  Nodes absent from ``edges`` are the caller's to add
    back as singletons (component = self)."""
    e = _canon(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    for _ in range(MAX_ITER):
        e = _canon(_small_star(_large_star(e))).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("mb"), F.col("a")).alias("component"),
        )
    )
