"""Entity linking + canonicalization (north-rule operators; the
reference has no linking stage — SURVEY.md section 2.B).

The alias dictionary is a driver list, so ``best_alias`` resolves it to
one entity per alias on the driver (weight desc as Spark orders it,
NaN first, then entity_id asc) and hands it to Spark as a local table.

``link_surfaces`` works on DISTINCT surfaces.  It first left-joins the
distinct normalized surfaces against the best-alias table and
checkpoints the result: hits are 'alias' links, misses go on to LSH.
The LSH nodes are the ``S:`` misses and every ``A:`` alias; an alias
node's id is "A:" + entity_id + NUL + alias, and "A:" sorts before
"S:", so the min node id of a component already names its canonical
id: "A:" + the min entity among its alias members when it has one,
else "S:" + its min surface.

GATE: one bounded ``limit(DRIVER_SURFACES + 1).toArrow()`` of the
checkpointed table is both the size gate and the driver input.  The
distinct surfaces are vocabulary-sized, so within the driver limits
the whole map is computed on the driver (``_local_pairs``,
``_local_map``: the driver twins of the grams, minhashes, bands and
pairs in ``hashing``, then the same exact verify and union-find as the
steps below) and returned as a local table.  The driver's memory grows
with the candidate pairs, so their count, known from the bucket sizes
before any pair is built, is the second limit.  Past either limit the
distributed steps run:
  1. LSH: one narrow array pass over the nodes computes each node's
     distinct char-3gram array, its 16 minhashes and its 8 bands; one
     self-join on (band, sig) gives the candidate pairs, which carry
     both gram arrays, so exact Jaccard >= threshold is one
     ``size(array_intersect(..))`` per pair.
  2. CC: verified pairs -> connected components (driver union-find
     below its edge limit), each keyed by its min node id.
  3. LINKS: the components' ``S:`` members with their canonical ids.
  4. MAP: the checkpointed table LEFT JOIN the step-3 links (a
     broadcast, vocabulary-sized): alias hit, else LSH link, else the
     surface itself ('self').

The final surface->canonical map joins back to mentions/triples as a
broadcast join.
"""

from __future__ import annotations

import math
from typing import Iterable, List, Optional, Sequence, Tuple

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.functions import hashing
from arabicner_spark.functions.normalize import normalize_col
from arabicner_spark.operators import components
from arabicner_spark.operators.components import connected_components_adaptive
from arabicner_spark.sources.io import local_table

DEFAULT_JACCARD = 0.5
# MinHash-LSH blocking over char 3-grams: N_HASHES minhashes in BANDS
# bands of N_HASHES // BANDS rows (the serial oracle's defaults)
N_HASHES = 16
BANDS = 8
# ends the entity id in an alias node's id; sorts before every
# character an entity id may hold (best_alias rejects ids holding it)
SEP = "\x00"

# the driver map's limits: up to DRIVER_SURFACES distinct surfaces
# whose LSH buckets hold up to DRIVER_PAIRS candidate pairs (counted
# per band, before the bands' shared pairs are dropped); past either,
# the distributed steps.  Set where the driver map stops winning on
# tools/link_gate.py's dense vocabulary (medians of 2, 4-vCPU VM,
# local[4]): driver against distributed, wall s and process-tree peak
# RSS MB, at 300k words (20.6M bucket pairs) 25.3 vs 61.1 s and 2645
# vs 2854 MB, at 350k (27.9M) 32.6 vs 87.4 s but 2954 vs 2920 MB.
# The driver stays faster; its memory, linear in the pairs, is what
# crosses.
DRIVER_SURFACES = 300_000
DRIVER_PAIRS = 21_000_000

AliasRow = Tuple[str, str, str, float]
MAP_SCHEMA = "surface string, canonical_id string, link_kind string"


def _best_key(row: AliasRow) -> tuple:
    """Sort key of ``ORDER BY weight DESC, entity_id ASC`` in Spark:
    NaN is the largest double, so it sorts first descending; NULL sorts
    last descending and first ascending."""
    _alias, eid, _typ, w = row
    if w is None:
        wk = (2, 0.0)
    elif math.isnan(w):
        wk = (0, 0.0)
    else:
        wk = (1, -w)
    return wk, eid is not None, eid or ""


def best_alias(spark: SparkSession, alias_rows: Iterable[AliasRow]) -> DataFrame:
    """The alias dictionary with one row per alias (schemas.ALIAS_DICT):
    highest weight wins, then lexicographic entity_id (deterministic
    tie-break, mirrored in oracle + SQL)."""
    best = {}
    for row in alias_rows:
        if SEP in (row[1] or ""):
            raise ValueError(f"entity id {row[1]!r} contains NUL, which keys LSH alias nodes")
        if row[0] not in best or _best_key(row) < _best_key(best[row[0]]):
            best[row[0]] = row
    return local_table(spark, list(best.values()), schemas.ALIAS_DICT)


def link_surfaces(
    mentions: DataFrame,
    alias_best: DataFrame,
    jaccard_threshold: float = DEFAULT_JACCARD,
) -> DataFrame:
    """mentions -> (surface, canonical_id, link_kind) map.

    ``alias_best``: one row per alias, as ``best_alias`` returns it.
    link_kind: 'alias' (direct dictionary hit), 'lsh' (reached via
    MinHash-LSH + components to a component with an alias member),
    'lsh_cluster' (LSH component without one), 'self' (novel surface,
    canonical is itself).
    """
    # read by the LSH nodes and by the final map: checkpoint once, or
    # the mention scan and its distinct run for each
    joined = (
        mentions.select(normalize_col(F.col("text")).alias("surface"))
        .where(F.length("surface") > 0)
        .distinct()
        .join(alias_best.select(F.col("alias").alias("surface"), "entity_id"), "surface", "left")
        .localCheckpoint(eager=True)
    )
    # gate: a distinct-surface table within the driver limits is linked
    # on the driver; the alias table is a local relation, so its collect
    # runs no job
    head = joined.limit(DRIVER_SURFACES + 1).toArrow()
    if head.num_rows <= DRIVER_SURFACES:
        rows = _local_map(
            head.column("surface").to_pylist(),
            head.column("entity_id").to_pylist(),
            alias_best.select("alias", "entity_id").collect(),
            jaccard_threshold,
        )
        if rows is not None:
            return local_table(mentions.sparkSession, rows, MAP_SCHEMA)

    # --- LSH blocking over unlinked surfaces + dictionary aliases
    nodes = joined.where(F.col("entity_id").isNull()).select(
        F.concat(F.lit("S:"), "surface").alias("id"), F.col("surface").alias("t")
    ).union(
        alias_best.select(
            F.concat(F.lit("A:"), "entity_id", F.lit(SEP), "alias").alias("id"),
            F.col("alias").alias("t"),
        )
    )
    sigs = hashing.minhash_columns(
        nodes.select("id", hashing.char_grams(F.col("t"), 3).alias("g")), "g", N_HASHES
    )
    # the node key carries its gram array through the pair self-join,
    # so verification needs no join back; ids are unique, so struct
    # order is id order
    sigs = sigs.withColumn("node", F.struct("id", "g"))
    pairs = hashing.lsh_candidate_pairs(
        hashing.lsh_bands(sigs, ["node"], bands=BANDS, rows_per_band=N_HASHES // BANDS),
        "node",
    )
    # exact Jaccard on candidate pairs only; a pair sharing no gram
    # never verifies, whatever the threshold
    inter = F.size(F.array_intersect("a.g", "b.g"))
    verified = pairs.where(
        (inter > 0)
        & (inter >= F.lit(jaccard_threshold) * (F.size("a.g") + F.size("b.g") - inter))
    ).select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))

    comp = connected_components_adaptive(verified)
    key = F.col("component")
    lsh = comp.where(F.col("node").startswith("S:")).select(
        F.expr("substring(node, 3)").alias("surface"),
        F.when(key.startswith("A:"), F.substring_index(F.expr("substring(component, 3)"), SEP, 1))
        .otherwise(key)
        .alias("lsh_id"),
        F.when(key.startswith("A:"), F.lit("lsh")).otherwise(F.lit("lsh_cluster")).alias("lsh_kind"),
    )
    # vocabulary-sized like the map itself, which every consumer
    # broadcasts too
    return joined.join(F.broadcast(lsh), "surface", "left").select(
        "surface",
        F.coalesce("entity_id", "lsh_id", F.concat(F.lit("S:"), "surface")).alias("canonical_id"),
        F.when(F.col("entity_id").isNotNull(), F.lit("alias"))
        .when(F.col("lsh_id").isNotNull(), F.col("lsh_kind"))
        .otherwise(F.lit("self"))
        .alias("link_kind"),
    )


# gram slots one verify chunk probes: each of its int64 temporaries
# stays near 32 MB however many candidate pairs there are
VERIFY_SLOTS = 1 << 22


def _local_pairs(
    texts: Sequence[str], jaccard_threshold: float
) -> Optional[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """MinHash-LSH over the node texts ``texts`` (listed in node id
    order) on the driver: (a, b, verified), the candidate pairs as node
    indices with a < b and the mask of those whose exact gram Jaccard
    reaches ``jaccard_threshold``; None past ``DRIVER_PAIRS``.  Blocking
    is the driver twin of the distributed step 1 (``hashing.local_*``);
    verification keeps its ``inter > 0`` and ``inter >= threshold *
    union``."""
    codes, sizes, grams = hashing.local_char_grams(texts, 3)
    sig = hashing.local_minhash(codes, sizes, grams, N_HASHES)
    buckets = hashing.local_lsh_buckets(sig, BANDS, N_HASHES // BANDS)
    if hashing.local_bucket_pairs(buckets) > DRIVER_PAIRS:
        return None
    a, b = hashing.local_candidate_pairs(buckets)
    # exact intersection: look each of a's grams up among the sorted,
    # unique (node, gram) keys, a chunk of pairs at a time
    width = len(grams)
    held = np.sort(np.repeat(np.arange(len(texts)), sizes) * width + codes)
    starts = np.cumsum(sizes) - sizes
    ends = np.cumsum(sizes[a])
    cuts = np.searchsorted(ends, np.arange(VERIFY_SLOTS, ends[-1] if len(ends) else 0, VERIFY_SLOTS))
    inter = np.empty(len(a), dtype=np.int64)
    for lo, hi in zip([0, *cuts], [*cuts, len(a)]):
        ca, cb = a[lo:hi], b[lo:hi]
        pair, rank = hashing.ragged_slots(sizes[ca])
        probe = cb[pair] * width + codes[starts[ca][pair] + rank]
        found = held[np.minimum(np.searchsorted(held, probe), len(held) - 1)] == probe
        inter[lo:hi] = np.bincount(pair[found], minlength=hi - lo)
    verified = (inter > 0) & (inter >= jaccard_threshold * (sizes[a] + sizes[b] - inter))
    return a, b, verified


def _local_map(
    surfaces: Sequence[str],
    entity_ids: Sequence[str],
    aliases: Sequence[Tuple[str, str]],
    jaccard_threshold: float,
) -> Optional[List[Tuple[str, str, str]]]:
    """(surface, canonical_id, link_kind) rows of ``link_surfaces`` from
    the distinct surfaces with their alias hits (``entity_ids``, None
    for a miss) and the (alias, entity_id) rows of the alias table;
    None when the LSH nodes pass ``DRIVER_PAIRS``."""
    # a NULL alias or entity id gives a NULL node id on the distributed
    # side, which no component keeps
    nodes = sorted(
        [("S:" + s, s) for s, e in zip(surfaces, entity_ids) if e is None]
        + [("A:" + e + SEP + a, a) for a, e in aliases if a is not None and e is not None]
    )
    pairs = _local_pairs([t for _id, t in nodes], jaccard_threshold)
    if pairs is None:
        return None
    a, b, verified = pairs
    links: dict = {}
    for node, root in components.union_find(zip(a[verified].tolist(), b[verified].tolist())).items():
        node_id, key = nodes[node][0], nodes[root][0]
        if node_id.startswith("S:"):
            links[node_id[2:]] = (key[2:].split(SEP, 1)[0], "lsh") if key.startswith("A:") else (key, "lsh_cluster")
    return [
        (s, e, "alias") if e is not None else (s, *links.get(s, ("S:" + s, "self")))
        for s, e in zip(surfaces, entity_ids)
    ]


def canonicalize_triples(triples: DataFrame, surface_map: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj to canonical ids via the surface map.

    The map is vocabulary-sized -> broadcast both joins; unmapped
    surfaces (shouldn't happen, but belt-and-braces) stay as "S:" +
    normalized surface.
    """
    m = F.broadcast(surface_map.select("surface", "canonical_id"))
    t = triples.withColumn("_ns", normalize_col(F.col("subj"))).withColumn(
        "_no", normalize_col(F.col("obj"))
    )
    t = (
        t.join(m.withColumnRenamed("surface", "_ns").withColumnRenamed("canonical_id", "subj_id"), "_ns", "left")
        .join(m.withColumnRenamed("surface", "_no").withColumnRenamed("canonical_id", "obj_id"), "_no", "left")
    )
    return t.select(
        F.coalesce("subj_id", F.concat(F.lit("S:"), "_ns")).alias("src"),
        "pred",
        F.coalesce("obj_id", F.concat(F.lit("S:"), "_no")).alias("dst"),
        "conv_id",
        "turn_idx",
        "subj",
        "obj",
        "subj_type",
        "obj_type",
    )
