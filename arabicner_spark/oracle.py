"""Serial reference oracle: the pipeline re-implemented in plain
Python/numpy over in-memory lists, no Spark.

This is "the reference pipeline" that the distributed job is scored
against (triple P/R >= 0.95 per BASELINE.json): the real AraBERT
checkpoint is LFS-stubbed in the reference checkout
(/root/reference/B1/tag_vocab.pkl is an LFS pointer, *.pt absent), so
the deterministic gazetteer scorer in ``functions.tagcore`` stands in
for the model on BOTH sides, and the oracle exercises the exact decode /
truncation / alignment semantics cited there.

Kept intentionally boring: per-turn loops, sets, sorted lists.  Any
cleverness belongs in the Spark side; the oracle's job is to be
obviously correct.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Sequence, Set, Tuple

from arabicner_spark.functions import tagcore
from arabicner_spark.functions.normalize import normalize_py
from arabicner_spark.operators.linking import _best_key
from arabicner_spark.operators.triples import DEFAULT_PREDICATES, DEFAULT_WINDOW

Mention = Tuple[str, int, int, str, int, int, str]  # conv, turn, level, type, s, e, text
Triple = Tuple[str, str, str, str, int, str, str]


def oracle_mentions(
    rows: Iterable[Tuple],  # (conv_id, turn_idx, role, text, tool, ts) or prefix
    gazetteer: Dict[str, set],
    max_seq_len: int = tagcore.DEFAULT_MAX_SEQ_LEN,
) -> List[Mention]:
    gazetteer = tagcore.prepare(gazetteer)
    types = tagcore.gazetteer_types(gazetteer)
    out: List[Mention] = []
    for row in rows:
        conv_id, turn_idx, text = row[0], row[1], row[3] if len(row) > 3 else row[2]
        tokens = (text or "").split()
        norm = [normalize_py(t) for t in tokens]
        for lvl, typ, s, e, surface in tagcore.mentions_for_turn(
            tokens, norm, gazetteer, types, max_seq_len
        ):
            out.append((conv_id, turn_idx, lvl, typ, s, e, surface))
    return sorted(out)


def oracle_triples(
    mentions: Sequence[Mention],
    predicates: Sequence[Tuple[str, str, str]] = DEFAULT_PREDICATES,
    window: int = DEFAULT_WINDOW,
) -> List[Triple]:
    by_turn: Dict[Tuple[str, int], List[Mention]] = {}
    for m in mentions:
        by_turn.setdefault((m[0], m[1]), []).append(m)
    pred_map: Dict[Tuple[str, str], List[str]] = {}
    for st, p, ot in predicates:
        pred_map.setdefault((st, ot), []).append(p)
    out: Set[Triple] = set()
    for (conv, turn), ms in by_turn.items():
        for a in ms:
            for b in ms:
                if (a[2], a[4], a[5]) == (b[2], b[4], b[5]):
                    continue
                gap = max(b[4] - a[5], a[4] - b[5])
                if gap > window:
                    continue
                for p in pred_map.get((a[3], b[3]), ()):
                    out.add((a[6], p, b[6], conv, turn, a[3], b[3]))
    return sorted(out)


def _best_entities(alias_rows: Iterable[Tuple[str, str, str, float]]) -> Dict[str, str]:
    """alias -> entity_id of its best row under ``linking._best_key``
    (weight desc with NaN first, then entity_id asc)."""
    by_alias: Dict[str, list] = {}
    for row in alias_rows:
        by_alias.setdefault(row[0], []).append(row)
    return {a: min(rows, key=_best_key)[1] for a, rows in by_alias.items()}


def oracle_link(
    mentions: Sequence[Mention],
    alias_rows: Sequence[Tuple[str, str, str, float]],
) -> Dict[str, str]:
    """normalized surface -> entity_id of its best alias row, as
    ``linking.best_alias`` resolves it."""
    best = _best_entities(alias_rows)
    out: Dict[str, str] = {}
    for m in mentions:
        surface = normalize_py(m[6])
        if surface in best:
            out[surface] = best[surface]
    return out


def oracle_lsh_link(
    mentions: Sequence[Mention],
    alias_rows: Sequence[Tuple[str, str, str, float]],
    jaccard_threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 8,
) -> Dict[str, Tuple[str, str]]:
    """normalized surface -> (canonical_id, link_kind): the whole
    surface map of operators/linking.link_surfaces.

    Dictionary hits first; the misses (``S:`` nodes) and every alias
    (``A:`` nodes) are blocked by char-3gram MinHash-LSH (md5 base +
    affine family, ``bands`` bands of n_hashes/bands rows), candidate
    pairs are kept at exact gram Jaccard >= threshold with at least one
    shared gram, and union-find groups them under the min node id.  A
    component's canonical id is its min alias entity, else "S:" + its
    min surface.
    """
    import hashlib

    from arabicner_spark.functions.hashing import MINHASH_P, minhash_affine_consts

    best = _best_entities(alias_rows)
    surfaces = {normalize_py(m[6]) for m in mentions} - {""}
    out: Dict[str, Tuple[str, str]] = {s: (best[s], "alias") for s in surfaces if s in best}
    unlinked = sorted(surfaces - set(best))
    if not unlinked:
        return out

    def grams(t: str) -> Set[str]:
        return {t[i : i + 3] for i in range(max(len(t) - 2, 1))}

    nodes = {f"S:{s}": grams(s) for s in unlinked}
    nodes.update({f"A:{a}": grams(a) for a in best})
    consts = minhash_affine_consts(n_hashes)
    rows = n_hashes // bands
    buckets: Dict[Tuple, List[str]] = {}
    for node, gs in nodes.items():
        base = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in gs]
        sig = [min((h * a + b) % MINHASH_P for h in base) for a, b in consts]
        for band in range(bands):
            buckets.setdefault((band, tuple(sig[band * rows : (band + 1) * rows])), []).append(node)
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for members in buckets.values():
        for x in members:
            for y in members:
                if x >= y:
                    continue
                inter = len(nodes[x] & nodes[y])
                union = len(nodes[x]) + len(nodes[y]) - inter
                if inter > 0 and inter >= jaccard_threshold * union:
                    rx, ry = find(x), find(y)
                    parent.setdefault(x, x)
                    parent.setdefault(y, y)
                    parent[max(rx, ry)] = min(rx, ry)
    comps: Dict[str, List[str]] = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    for members in comps.values():
        ents = [best[m[2:]] for m in members if m.startswith("A:")]
        surfs = [m[2:] for m in members if m.startswith("S:")]
        for s in surfs:
            out[s] = (min(ents), "lsh") if ents else ("S:" + min(surfs), "lsh_cluster")
    for s in unlinked:
        out.setdefault(s, ("S:" + s, "self"))
    return out


def precision_recall(
    got: Sequence[Tuple], want: Sequence[Tuple]
) -> Tuple[float, float]:
    """Set P/R, the BASELINE.json triple-match metric."""
    gs, ws = set(got), set(want)
    if not gs or not ws:
        return (1.0 if gs == ws else 0.0,) * 2
    tp = len(gs & ws)
    return tp / len(gs), tp / len(ws)
