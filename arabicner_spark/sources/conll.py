"""CoNLL multi-label fixture reader (Wojood format).

Parses exactly the format the reference reads: one token per line,
``text TAG1 [TAG2 ...]`` whitespace-split, blank line between segments
(/root/reference/arabiner/utils/data.py:28-49; a token may carry up to
4 tags in the shipped fixtures).  Also derives gold span sets with the
reference's first-match-per-type rule
(arabiner/data/transforms.py:91-99) + IOB2-strict extraction
(arabiner/utils/metrics.py:29-35), and reshapes fixture segments into
the transcript schema (file -> conversation, segment -> turn) per
FIXTURES.md.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Set, Tuple

from arabicner_spark.functions.normalize import normalize_py

Segment = List[Tuple[str, List[str]]]  # (token, gold_tags)


def parse_conll(path: str) -> List[Segment]:
    segments: List[Segment] = []
    cur: Segment = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.split()
            if not parts:
                if cur:
                    segments.append(cur)
                    cur = []
                continue
            cur.append((parts[0], parts[1:] or ["O"]))
    if cur:
        segments.append(cur)
    return segments


def entity_types(segments: List[Segment]) -> List[str]:
    """sorted({tag.split('-',1)[1]}) — arabiner/utils/data.py:85-86."""
    types: Set[str] = set()
    for seg in segments:
        for _tok, tags in seg:
            for t in tags:
                if "-" in t:
                    types.add(t.split("-", 1)[1])
    return sorted(types)


def gold_label_matrix(seg: Segment, types: List[str]) -> List[List[str]]:
    """Per type level, per token: FIRST gold tag matching that type
    else 'O' (the reference's first-match-per-type rule)."""
    out = []
    for typ in types:
        r = re.compile(f"^B-{re.escape(typ)}$|^I-{re.escape(typ)}$")
        out.append(
            [next((t for t in tags if r.match(t)), "O") for _tok, tags in seg]
        )
    return out


def gold_spans(
    segments: List[Segment], types: List[str]
) -> Set[Tuple[int, int, str, int, int]]:
    """IOB2-strict spans: {(seg_idx, level, type, start, end_excl)}."""
    spans: Set[Tuple[int, int, str, int, int]] = set()
    for si, seg in enumerate(segments):
        for lvl, col in enumerate(gold_label_matrix(seg, types)):
            start = -1
            for pos, tag in enumerate(col):
                if tag.startswith("B-"):
                    if start >= 0:
                        spans.add((si, lvl, types[lvl], start, pos))
                    start = pos
                elif tag.startswith("I-"):
                    pass  # continues if open; stray I- opens nothing
                else:
                    if start >= 0:
                        spans.add((si, lvl, types[lvl], start, pos))
                        start = -1
            if start >= 0:
                spans.add((si, lvl, types[lvl], start, len(col)))
    return spans


def gazetteer_from_gold(segments: List[Segment], types: List[str]) -> Dict[str, set]:
    """{type: normalized phrase tuples} from every gold span surface of
    at most 8 tokens."""
    gaz: Dict[str, set] = {t: set() for t in types}
    for si, seg in enumerate(segments):
        toks = [tok for tok, _tags in seg]
        for (s_idx, lvl, typ, s, e) in gold_spans([seg], types):
            if e - s <= 8:
                gaz[typ].add(tuple(normalize_py(t) for t in toks[s:e]))
    return {t: ps for t, ps in gaz.items() if ps}


_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def segments_to_transcript_rows(
    segments: List[Segment],
) -> List[Tuple[str, int, str, str, str, datetime]]:
    """segment -> turn; groups of 50 segments -> conversation
    ``wojood_NNNNN``."""
    rows = []
    for si, seg in enumerate(segments):
        conv = f"wojood_{si // 50:05d}"
        turn = si % 50
        text = " ".join(tok for tok, _ in seg)
        rows.append(
            (conv, turn, ["user", "assistant", "tool"][turn % 3], text, None,
             _EPOCH + timedelta(seconds=si))
        )
    return rows
