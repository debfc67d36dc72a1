"""Entity linking + canonicalization (north-rule operators; the
reference has no linking stage — SURVEY.md section 2.B).

Dataflow, all on DISTINCT surfaces:
  1. DIRECT: one left join of the distinct normalized surfaces against
     the checkpointed best-alias table (ties on a shared alias break by
     weight desc, entity_id asc).  AQE picks broadcast or shuffle from
     the checkpoint's size.  Hits are 'alias' links; misses go on.
  2. LSH: one narrow array pass over the nodes (``S:`` unlinked
     surfaces and ``A:`` aliases) computes each node's distinct
     char-3gram array, its 16 minhashes and its 8 bands; one self-join
     on (band, sig) gives the candidate pairs, which carry both gram
     arrays, so exact Jaccard >= threshold is one
     ``size(array_intersect(..))`` per pair.
  3. CC: verified pairs -> connected components (driver union-find
     below its edge limit); the canonical id of a component is the best
     entity among its alias members, else "S:" + min surface.

At 10^12 turns the mention table is enormous but the distinct-surface
table is vocabulary-sized, so every step after the first
``.distinct()`` touches the small table and the cost is per-job
overhead, not data.  The final surface->canonical map joins back to
mentions/triples as a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arabicner_spark.functions import hashing
from arabicner_spark.functions.normalize import normalize_col
from arabicner_spark.operators.components import connected_components_adaptive

DEFAULT_JACCARD = 0.5


def best_alias(alias_df: DataFrame) -> DataFrame:
    """One row per alias: highest weight wins, then lexicographic
    entity_id (deterministic tie-break, mirrored in oracle + SQL)."""
    w = Window.partitionBy("alias").orderBy(
        F.col("weight").desc(), F.col("entity_id").asc()
    )
    return (
        alias_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_surfaces(
    mentions: DataFrame,
    alias_df: DataFrame,
    jaccard_threshold: float = DEFAULT_JACCARD,
    n_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """mentions -> (surface, canonical_id, link_kind) map.

    link_kind: 'alias' (direct dictionary hit), 'lsh' (reached via
    MinHash-LSH + components to a component with an alias member),
    'lsh_cluster' (LSH component without one), 'self' (novel surface,
    canonical is itself).
    """
    # both are vocabulary-sized and read by every branch below ->
    # checkpoint once; without this the whole upstream plan (incl. the
    # NER stage) re-executes per branch of the final union, and the
    # checkpoint's size is what lets AQE pick broadcast or shuffle for
    # the dictionary join
    dict_best = best_alias(alias_df).localCheckpoint(eager=True)
    joined = (
        mentions.select(normalize_col(F.col("text")).alias("surface"))
        .where(F.length("surface") > 0)
        .distinct()
        .join(dict_best.withColumnRenamed("alias", "surface"), "surface", "left")
        .localCheckpoint(eager=True)
    )
    direct = joined.where(F.col("entity_id").isNotNull()).select(
        "surface", F.col("entity_id").alias("canonical_id")
    )
    unlinked = joined.where(F.col("entity_id").isNull()).select("surface")
    if unlinked.isEmpty():
        # nothing to block — LSH exists to rescue dictionary misses
        return direct.withColumn("link_kind", F.lit("alias"))

    # --- LSH blocking over unlinked surfaces + dictionary aliases
    nodes = unlinked.select(
        F.concat(F.lit("S:"), "surface").alias("id"), F.col("surface").alias("t")
    ).union(
        dict_best.select(F.concat(F.lit("A:"), "alias").alias("id"), F.col("alias").alias("t"))
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

    # canonical per component: best entity among alias members, else
    # "S:" + min surface member.
    members = comp.withColumn(
        "kind", F.substring("node", 1, 2)
    ).withColumn("t", F.expr("substring(node, 3)"))
    alias_members = (
        members.where(F.col("kind") == "A:")
        .join(F.broadcast(dict_best), F.col("t") == dict_best["alias"])
        .groupBy("component")
        .agg(F.min("entity_id").alias("ent"))
    )
    surf_min = (
        members.where(F.col("kind") == "S:")
        .groupBy("component")
        .agg(F.min("t").alias("min_surface"))
    )
    comp_canon = surf_min.join(alias_members, "component", "left").select(
        "component",
        F.coalesce(F.col("ent"), F.concat(F.lit("S:"), "min_surface")).alias(
            "canonical_id"
        ),
        F.col("ent").isNotNull().alias("via_alias"),
    )
    lsh_linked = (
        members.where(F.col("kind") == "S:")
        .join(comp_canon, "component")
        .select(
            F.col("t").alias("surface"),
            "canonical_id",
            F.when(F.col("via_alias"), F.lit("lsh")).otherwise(F.lit("lsh_cluster")).alias(
                "link_kind"
            ),
        )
    )

    singles = (
        unlinked.join(
            lsh_linked.select("surface").distinct(), "surface", "left_anti"
        ).select(
            "surface",
            F.concat(F.lit("S:"), "surface").alias("canonical_id"),
            F.lit("self").alias("link_kind"),
        )
    )

    return (
        direct.withColumn("link_kind", F.lit("alias"))
        .unionByName(lsh_linked)
        .unionByName(singles)
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
