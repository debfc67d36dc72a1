"""Shared numpy tag core: encode -> score -> decode, one implementation.

This module is the single source of truth for the NER-stage semantics.
Both the serial oracle (``arabicner_spark.oracle``) and the distributed
Spark stage (``arabicner_spark.operators.ner``) import these functions
verbatim, so Spark-vs-oracle parity is exact by construction; the pytest
suite then perturbs the gazetteer to exercise the P/R >= 0.95 threshold
logic rather than only 1.0.

Reference semantics reproduced here (file:line cites into
/root/reference):

* subword encoding, tag on FIRST subword, O on continuations:
  arabiner/data/transforms.py:33-35 (flat) and :91-99 (nested).  The
  real tokenizer is WordPiece; since AraBERT weights are LFS-stubbed in
  the reference checkout and `transformers` is not available here, the
  stand-in encoder deterministically chunks a token into <=4-char
  pieces — same alignment/truncation *shape*, pluggable if real weights
  appear.
* truncation to max_seq_len-2 subwords (default 512), tokens beyond
  silently lose their tags: arabiner/data/transforms.py:101-107.  We
  keep the surplus tokens as forced-"O" so per-turn text equality holds
  (north-rule invariant), and report the truncation in lineage.
* one BIO head per entity type, types in sorted order, labels
  [B-X, I-X, O] with O last: arabiner/utils/data.py:82-93.
* model emits logits B x T x L x C: arabiner/nn/BertNestedTagger.py:27-33.
* decode = argmax over C (dim=3), NO transition repair:
  arabiner/trainers/BertNestedTrainer.py:155,172.
* realignment: keep only first-subword positions (the reference drops
  UNK continuation placeholders, arabiner/trainers/BertNestedTrainer.py:
  193-198); here we keep an explicit first-subword index instead of the
  filtering dance — same result, vectorizable.
* span extraction: seqeval IOB2-strict (span starts at B- only; stray
  I- does not open a span): arabiner/utils/metrics.py:16-46.

The scorer stand-in is a deterministic gazetteer matcher that emits the
same B x T x L x C logit tensor a BertNestedTagger would, so the decode
path downstream is identical whichever scorer produced the logits.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np

# label ids within each per-type BIO head; O appended last, mirroring
# arabiner/utils/data.py:89-91.
B_ID, I_ID, O_ID = 0, 1, 2
N_LABELS = 3

# stand-in subword chunk width (chars per subword piece)
SUBWORD_CHARS = 4
DEFAULT_MAX_SEQ_LEN = 512

# deterministic logit magnitudes: O baseline everywhere, matched B/I
# positions get a clear margin.
_LOGIT_BASE = 4.0
_LOGIT_HIT = 8.0

# A gazetteer is {type_name: set of phrase tuples of normalized tokens}.
Gazetteer = Dict[str, set]

# Long-lived Python workers see an open vocabulary at 100 TB — every
# per-process memo must be bounded.  Default cap for token-level memos.
MEMO_CAP = 1_000_000


class BoundedMemo(dict):
    """A dict memo with a hard size cap: when full, it RESETS (clear)
    rather than evicting — memo misses only cost a recompute, and a
    wholesale reset is O(1) with zero bookkeeping on the hit path.
    ``resets`` counts cap triggers (observable in tests)."""

    __slots__ = ("cap", "resets")

    def __init__(self, cap: int = MEMO_CAP):
        super().__init__()
        self.cap = cap
        self.resets = 0

    def put(self, key, value):
        if len(self) >= self.cap:
            self.clear()
            self.resets += 1
        self[key] = value
        return value


class PreparedGazetteer:
    """First-token-indexed gazetteer: one dict lookup decides whether a
    position can start any phrase of a type (the common case is a miss,
    so the per-position candidate-length loop disappears).  Prepare
    ONCE per executor/batch, not per turn."""

    __slots__ = ("types", "index", "merged")

    def __init__(self, gaz: Gazetteer):
        self.types = sorted(gaz)
        # {type: {first_token: [(len, phrase_tuple)] longest-first}}
        self.index: Dict[str, Dict[str, list]] = {}
        # {first_token: [(level, len, phrase)]} — ONE lookup per
        # position serves every BIO head (levels scan independently,
        # so entries stay grouped by level, longest-first within it)
        self.merged: Dict[str, list] = {}
        for lvl, typ in enumerate(self.types):
            by_first: Dict[str, list] = {}
            for phrase in gaz[typ]:
                if phrase:
                    by_first.setdefault(phrase[0], []).append((len(phrase), phrase))
            for first, cands in by_first.items():
                cands.sort(key=lambda kp: -kp[0])
                self.merged.setdefault(first, []).extend(
                    (lvl, k, p) for k, p in cands
                )
            self.index[typ] = by_first


def prepare(gaz) -> PreparedGazetteer:
    return gaz if isinstance(gaz, PreparedGazetteer) else PreparedGazetteer(gaz)


def gazetteer_types(gaz) -> List[str]:
    """Level order = sorted type names (arabiner/utils/data.py:86)."""
    return gaz.types if isinstance(gaz, PreparedGazetteer) else sorted(gaz)


def subword_lengths(tokens: Sequence[str]) -> np.ndarray:
    """Stand-in encoder: ceil(len/SUBWORD_CHARS) pieces, min 1.

    The min-1 mirrors the reference's [UNK] fallback for tokens the
    tokenizer fails to encode (arabiner/data/transforms.py:30).
    """
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    return np.maximum(1, -(-lens // SUBWORD_CHARS))


def encode_from_lengths(
    sub_lens: np.ndarray, max_seq_len: int = DEFAULT_MAX_SEQ_LEN
) -> Tuple[np.ndarray, int, int]:
    """Alignment + truncation math shared by every encoder.

    Given per-token subword counts (from ANY tokenizer — the stand-in
    chunker or a real WordPiece via functions.bert_scorer), return
    (first_subword_idx, n_subwords_kept, n_taggable_tokens).

    ``first_subword_idx[i]`` is the 0-based position of token i's first
    subword inside the (pre-CLS/SEP) subword sequence.  A token is
    *taggable* iff its first subword survives truncation to
    ``max_seq_len - 2`` pieces — exactly which tags survive the
    reference's list slicing at arabiner/data/transforms.py:101-107.
    """
    ends = np.cumsum(sub_lens)
    first_idx = ends - sub_lens
    budget = max_seq_len - 2
    n_taggable = int(np.searchsorted(first_idx, budget, side="left"))
    n_subwords = int(min(ends[-1] if len(sub_lens) else 0, budget))
    return first_idx, n_subwords, n_taggable


def encode_tokens(
    tokens: Sequence[str], max_seq_len: int = DEFAULT_MAX_SEQ_LEN
) -> Tuple[np.ndarray, int, int]:
    """Stand-in encoder: chunk lengths -> shared alignment math."""
    return encode_from_lengths(subword_lengths(tokens), max_seq_len)


def match_all_spans(
    norm_tokens: Sequence[str], pg: PreparedGazetteer, n_taggable: int
) -> List[Tuple[int, int, int]]:
    """All-level greedy matching in ONE scan: [(level, start, end)].

    Exactly equivalent to a greedy left-to-right longest match of
    gazetteer phrases run per level (candidates in ``pg.merged`` are
    grouped by level, longest-first within a level; per-level cursors
    reproduce the consume-and-advance rule) but with a single dict
    lookup per position instead of L scans.  Within one level matched
    spans never overlap (a head can only express one BIO segmentation),
    mirroring the reference's "we do not have overlapping of same type"
    rule (arabiner/data/transforms.py:91-95); nesting arises across
    levels.

    Truncation rule, reference-faithful: the reference SLICES the tag
    lists at the subword budget (arabiner/data/transforms.py:101-107),
    so a span that STRADDLES the boundary keeps its B-/I- prefix and
    decodes as a partial span — here, matching runs over the full token
    sequence and only the emitted end is clamped to ``n_taggable``
    (greedy consumption still advances past the full phrase).  Spans
    starting at/after the boundary lose their B- and are dropped
    entirely, as in the reference.
    """
    spans: List[Tuple[int, int, int]] = []
    cursors: Dict[int, int] = {}
    merged = pg.merged
    for i in range(n_taggable):
        cands = merged.get(norm_tokens[i])
        if not cands:
            continue
        matched_lvl = -1
        for lvl, k, phrase in cands:
            if lvl == matched_lvl or cursors.get(lvl, 0) > i:
                continue
            if tuple(norm_tokens[i : i + k]) == phrase:
                spans.append((lvl, i, min(i + k, n_taggable)))
                cursors[lvl] = i + k
                matched_lvl = lvl
    return spans


def score_turn(
    norm_tokens: Sequence[str],
    gaz,
    types: Sequence[str] = None,
    max_seq_len: int = DEFAULT_MAX_SEQ_LEN,
    enc: Tuple[np.ndarray, int, int] = None,
) -> np.ndarray:
    """Deterministic gazetteer scorer: logits of shape (T, L, 3).

    T = n_subwords_kept + 2 (CLS/SEP framing, O everywhere there),
    L = len(types), C = 3 — the same shape BertNestedTagger.forward
    emits (arabiner/nn/BertNestedTagger.py:27-33), so decode is shared
    between the stand-in and any real model.
    Non-O mass only ever lands on FIRST subwords, mirroring label
    construction (arabiner/data/transforms.py:91-99).
    ``gaz`` may be a raw dict or a PreparedGazetteer; ``enc`` lets the
    caller reuse an encode_tokens result.
    """
    pg = prepare(gaz)
    types = list(types) if types is not None else pg.types
    first_idx, n_subwords, n_taggable = enc or encode_tokens(norm_tokens, max_seq_len)
    T = n_subwords + 2
    logits = np.zeros((T, len(types), N_LABELS), dtype=np.float32)
    logits[:, :, O_ID] = _LOGIT_BASE
    # NOTE: when called with an explicit ``types`` subset differing
    # from pg.types the merged fast path would mis-map levels; pipeline
    # callers always pass pg.types (or None), asserted cheaply here.
    assert list(types) == pg.types, "types must be the prepared sorted order"
    for lvl, start, end in match_all_spans(norm_tokens, pg, n_taggable):
        # +1 offsets past CLS
        logits[first_idx[start] + 1, lvl, B_ID] = _LOGIT_HIT
        for tok in range(start + 1, end):
            logits[first_idx[tok] + 1, lvl, I_ID] = _LOGIT_HIT
    return logits


def decode_turn(
    logits: np.ndarray,
    first_subword_idx: np.ndarray,
    n_taggable: int,
    types: Sequence[str],
) -> List[Tuple[int, str, int, int]]:
    """argmax decode + first-subword realignment + IOB2-strict spans.

    Returns [(level, type, start_tok, end_tok_exclusive), ...].
    ``logits`` is one turn's (T, L, 3) slice (CLS/SEP framed).
    """
    label_ids = np.argmax(logits, axis=-1)  # (T, L)
    if n_taggable == 0:
        return []
    tok_ids = label_ids[first_subword_idx[:n_taggable] + 1]  # (n_tok, L)
    out: List[Tuple[int, str, int, int]] = []
    nontrivial = np.flatnonzero((tok_ids != O_ID).any(axis=0)).tolist()
    for lvl in nontrivial:
        col = tok_ids[:, lvl]
        start = -1
        for pos, lab in enumerate(col):
            if lab == B_ID:
                if start >= 0:
                    out.append((lvl, types[lvl], start, pos))
                start = pos
            elif lab == I_ID:
                # IOB2-strict: I- continues an open span only; a stray
                # I- (after O or at sequence start) opens nothing.
                pass
            else:  # O
                if start >= 0:
                    out.append((lvl, types[lvl], start, pos))
                    start = -1
        if start >= 0:
            out.append((lvl, types[lvl], start, len(col)))
    return out


def mentions_for_turn(
    tokens: Sequence[str],
    norm_tokens: Sequence[str],
    gaz,
    types: Sequence[str] = None,
    max_seq_len: int = DEFAULT_MAX_SEQ_LEN,
) -> List[Tuple[int, str, int, int, str]]:
    """Full per-turn path: encode -> score -> decode -> surface text.

    Returns [(level, type, start_tok, end_tok, text)], where text is the
    ORIGINAL (un-normalized) tokens joined by single spaces.
    """
    pg = prepare(gaz)
    types = list(types) if types is not None else pg.types
    enc = encode_tokens(norm_tokens, max_seq_len)
    logits = score_turn(norm_tokens, pg, types, max_seq_len, enc=enc)
    spans = decode_turn(logits, enc[0], enc[2], types)
    return [
        (lvl, typ, s, e, " ".join(tokens[s:e])) for (lvl, typ, s, e) in spans
    ]
