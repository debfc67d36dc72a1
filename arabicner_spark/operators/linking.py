"""Entity linking + canonicalization (north-rule operators; the
reference has no linking stage — SURVEY.md section 2.B).

The alias dictionary is a driver list, so ``best_alias`` resolves it to
one entity per alias on the driver (weight desc as Spark orders it,
NaN first, then entity_id asc) and hands it to Spark as a local table.

Dataflow, all on DISTINCT surfaces:
  1. DIRECT: one left join of the distinct normalized surfaces against
     the best-alias table, checkpointed once (steps 2 and 4 both read
     it).  Hits are 'alias' links; misses go on.
  2. LSH: one narrow array pass over the nodes (``S:`` unlinked
     surfaces and ``A:`` aliases) computes each node's distinct
     char-3gram array, its 16 minhashes and its 8 bands; one self-join
     on (band, sig) gives the candidate pairs, which carry both gram
     arrays, so exact Jaccard >= threshold is one
     ``size(array_intersect(..))`` per pair.
  3. CC: verified pairs -> connected components (driver union-find
     below its edge limit), each keyed by its min node id.  An alias
     node's id is "A:" + entity_id + NUL + alias, and "A:" sorts
     before "S:", so a component's key already names its canonical
     id: "A:" + the min entity among its alias members when it has
     one, else "S:" + its min surface.  No aggregate is needed.
  4. MAP: the step-1 table LEFT JOIN the step-3 surface links (a
     broadcast, vocabulary-sized): alias hit, else LSH link, else the
     surface itself ('self').

At 10^12 turns the mention table is enormous but the distinct-surface
table is vocabulary-sized, so every step after the first
``.distinct()`` touches the small table and the cost is per-job
overhead, not data.  The final surface->canonical map joins back to
mentions/triples as a broadcast join.
"""

from __future__ import annotations

import math
from typing import Iterable, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.functions import hashing
from arabicner_spark.functions.normalize import normalize_col
from arabicner_spark.operators.components import connected_components_adaptive
from arabicner_spark.sources.io import local_table

DEFAULT_JACCARD = 0.5
# ends the entity id in an alias node's id; sorts before every
# character an entity id may hold (best_alias rejects ids holding it)
SEP = "\x00"

AliasRow = Tuple[str, str, str, float]


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
    n_hashes: int = 16,
    bands: int = 8,
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
        nodes.select("id", hashing.char_grams(F.col("t"), 3).alias("g")), "g", n_hashes
    )
    # the node key carries its gram array through the pair self-join,
    # so verification needs no join back; ids are unique, so struct
    # order is id order
    sigs = sigs.withColumn("node", F.struct("id", "g"))
    pairs = hashing.lsh_candidate_pairs(
        hashing.lsh_bands(sigs, ["node"], bands=bands, rows_per_band=n_hashes // bands),
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
