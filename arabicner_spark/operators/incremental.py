"""Incremental deduplication: fold a NEW batch of documents into an
existing dedup state without re-shingling or re-hashing the old corpus
— the operational shape of dedup at 100 TB, where the corpus grows
daily and "recompute everything" is a non-starter.

The document near-dup chain itself is written once here: exact_groups,
near_bands and keep_decision, composed without state by dedup_decision
(the registry's dedup queries, the corpus pipeline) and with
checkpointed state by dedup_state / dedup_incremental.

State kept from the previous run (all compact relative to the corpus):
  * hashes(h, rep)        — exact-text md5 -> group-min rep id
  * bands(id, band, sig)  — LSH band table of the exact-group REPS
  * comp(node, keep)      — final keep/drop decision per doc

Incremental step for a new batch:
  1. exact: md5 new texts; texts seen before attach to the stored rep
     (one hash join); unseen texts form new exact groups (one groupBy).
  2. LSH: shingle + minhash ONLY the new unseen-text reps; candidate
     pairs = new-bands x old-bands (band equi-join) + new-bands self
     pairs.  Old x old pairs are NOT recomputed — they are already
     folded into comp.
  3. connectivity: old components enter as COMPRESSED star edges
     (keep -> node), so merges that a bridging new document causes
     (new doc near-dup of two different old clusters) still happen;
     the expensive per-document work (tokenize/shingle/16 hashes) is
     what's skipped, not correctness.

EXACTNESS CONTRACT (gated): when new ids sort after old ids (the
monotone-id ingest reality), the result is IDENTICAL to a full batch
recompute over old+new — the oracle for the gate query is literally
the full-corpus dedup SQL.  Star-compression preserves old
connectivity exactly, and identical texts produce identical shingles,
so band tables built from either group representative agree.
"""

from __future__ import annotations

from typing import Dict, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.functions import hashing
from arabicner_spark.operators.components import connected_components_adaptive


def exact_groups(docs: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """(groups, star) for exact-text dedup-before-LSH over ``docs``
    (id string, text).

    groups: (h, rep, text, ids), one row per DISTINCT text: its md5,
    the group-min id, the text and the member ids.  star: rep->member
    edges (a, b) within each exact group.  Identical texts always share
    every band cell, so collapsing them to one rep before shingling
    preserves connectivity EXACTLY while removing the LSH blowup a
    mass-duplicated document causes (a 1M-copy boilerplate doc would
    otherwise put 10^12 candidate pairs in one bucket; as star edges it
    costs 1M rows).  Component ids are unchanged too: each group's min
    IS its rep, so min-over-reps = min-over-members.
    """
    g = docs.groupBy(hashing.md5_utf8(F.col("text")).alias("h")).agg(
        F.min("id").alias("rep"),
        F.min("text").alias("text"),
        F.collect_set("id").alias("ids"),
    )
    star = g.select(
        F.col("rep").alias("a"), F.explode("ids").alias("b")
    ).where(F.col("a") != F.col("b"))
    return g, star


def _reps(groups: DataFrame) -> DataFrame:
    return groups.select(F.col("rep").alias("id"), "text")


def near_bands(docs: DataFrame) -> DataFrame:
    """LSH band table (id, band, sig) of ``docs`` (id, text): word
    3-gram shingles -> 16 affine minhashes -> 8 bands of 2, the one
    document near-dup signature policy (its SQL mirror is
    testdata_queries._sql_minhash_cte)."""
    sh = hashing.word_shingles(docs, ["id"], "text", n=3)
    sig = hashing.minhash_signatures(sh, ["id"], n_hashes=16)
    return hashing.lsh_bands(sig, ["id"], bands=8, rows_per_band=2)


def keep_decision(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node, keep): connected components over ``edges`` (a, b), then
    every row of ``nodes`` (node) keeps its component's min id, or
    itself when no edge touches it (singletons)."""
    cc = connected_components_adaptive(edges)
    return nodes.join(cc, "node", "left").select(
        "node", F.coalesce("component", "node").alias("keep")
    )


def dedup_decision(docs: DataFrame) -> DataFrame:
    """docs (id string, text) -> (node, keep): exact-group star edges
    UNION near-dup LSH pairs of the reps -> components -> min id kept.
    Nothing is checkpointed beyond what the pair join and CC do
    themselves, so a caller that reads only the decision pays for no
    state tables."""
    g, star = exact_groups(docs)
    near = hashing.lsh_candidate_pairs(near_bands(_reps(g)), "id")
    return keep_decision(docs.select(F.col("id").alias("node")), star.unionByName(near))


def dedup_state(docs: DataFrame) -> Dict[str, DataFrame]:
    """Full run over ``docs`` (id string, text) -> state dict
    {hashes, bands, comp} + the keep/drop table under 'decision'."""
    g, star = exact_groups(docs)
    hashes = g.select("h", "rep").localCheckpoint(eager=True)
    bands = near_bands(_reps(g)).localCheckpoint(eager=True)
    near = hashing.lsh_candidate_pairs(bands, "id")
    decision = keep_decision(
        docs.select(F.col("id").alias("node")), star.unionByName(near)
    ).localCheckpoint(eager=True)
    return {"hashes": hashes, "bands": bands, "comp": decision, "decision": decision}


def dedup_incremental(state: Dict[str, DataFrame], new_docs: DataFrame) -> Dict[str, DataFrame]:
    """Fold ``new_docs`` (id string, text; ids sort after the state's)
    into ``state``; returns the updated state (same keys) whose
    'decision' covers old + new documents exactly as a full recompute
    would."""
    nh = new_docs.select(
        "id", "text", hashing.md5_utf8(F.col("text")).alias("h")
    )
    seen = nh.join(state["hashes"], "h", "inner")
    seen_edges = seen.select(F.col("rep").alias("a"), F.col("id").alias("b"))

    unseen = nh.join(state["hashes"], "h", "left_anti")
    g, new_star = exact_groups(unseen.select("id", "text"))
    new_bands = near_bands(_reps(g)).localCheckpoint(eager=True)
    # new x old candidates: one equi-join on the band key
    cross = (
        new_bands.select("band", "sig", F.col("id").alias("b"))
        .join(
            state["bands"].select("band", "sig", F.col("id").alias("a")),
            ["band", "sig"],
        )
        .select("a", "b")
        .distinct()
    )
    # new x new candidates
    nn = hashing.lsh_candidate_pairs(new_bands, "id")
    # old connectivity, star-compressed (keep -> node)
    old_star = state["comp"].where(F.col("node") != F.col("keep")).select(
        F.col("keep").alias("a"), F.col("node").alias("b")
    )
    edges = old_star.unionByName(seen_edges).unionByName(new_star).unionByName(
        cross
    ).unionByName(nn)
    all_nodes = state["comp"].select("node").unionByName(
        new_docs.select(F.col("id").alias("node"))
    )
    decision = keep_decision(all_nodes, edges).localCheckpoint(eager=True)
    return {
        "hashes": state["hashes"].unionByName(g.select("h", "rep")),
        "bands": state["bands"].unionByName(new_bands),
        "comp": decision,
        "decision": decision,
    }
