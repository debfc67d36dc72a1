"""Deterministic synthetic transcript corpus (FIXTURES.md section 1-3).

Everything derives from a single seed via ``random.Random`` — no wall
clock, no numpy global state — so tests, goldens, and the bench harness
are byte-reproducible.  Timestamps are seed-derived epoch offsets.

The corpus plants gazetteer entities into Arabic-ish filler text:
  * nested plants: an ORG phrase whose suffix token is itself a GPE
    phrase (nesting across BIO levels, like the Wojood fixture
    "مجلس الأمن ضد الأسد" where الأسد is I-ORG *and* B-PERS,
    /root/reference/data/train.txt:11-13);
  * hot entities (a few aliases planted 50x more often) to exercise
    hot-key skew in linking;
  * hot conversations (>=50x median turn count) to exercise skew
    repartitioning;
  * a few turns longer than 510 stand-in subwords to exercise the
    truncation rule (arabiner/data/transforms.py:101-107).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Tuple

from arabicner_spark.functions.normalize import normalize_py
from arabicner_spark.sources.io import local_table

# ---------------------------------------------------------------- gazetteer

# 1-3 token surface phrases per type.  Nested pairs: ORG phrases embed
# GPE/PERS unigrams; OCC phrases embed ORG unigrams.
GAZETTEER: Dict[str, List[str]] = {
    "PERS": ["الأسد", "محمود درويش", "فيروز", "نزار قباني"],
    "ORG": ["مجلس الأمن", "جامعة بيرزيت", "الأمم المتحدة", "شركة أرامكو"],
    "GPE": ["بيرزيت", "نابلس", "دمشق", "بيروت", "القاهرة", "نابلسس"],
    "LOC": ["نهر الأردن", "جبل الشيخ"],
    "FAC": ["مطار الملكة علياء", "جسر الملك حسين"],
    "OCC": ["سكرتير اللجنة", "مدير الجامعة", "رئيس الوزراء"],
    "EVENT": ["مؤتمر القمة", "معرض الكتاب"],
    "DATE": ["عام ١٩٤٨", "شهر رمضان"],
}

# surfaces the tagger detects but the alias dictionary does NOT carry:
# they stay unlinked after the broadcast join and must be rescued by
# MinHash-LSH + components (char-3gram Jaccard to their true alias —
# e.g. نابلسس vs نابلس = 3/4 = 0.75).  Keeps the LSH path hot in every
# pipeline run, not just in targeted tests.
VARIANT_SURFACES = {"نابلسس"}

FILLER = (
    "فقد حرصت على تعطيل مشاريع قرارات مختلفة في ضد وتدخلت عسكرياً لقلب "
    "الكفة لصالحه لتأمين مأكل الطلاب أعلنت أمس أن الاجتماع سيعقد قريباً "
    "وقال المتحدث إن النتائج كانت جيدة جداً بينما استمرت المفاوضات حول "
    "القضايا العالقة منذ سنوات طويلة دون حل يذكر حتى الآن"
).split()

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "retrieve", "calc", "translate"]

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def make_alias_rows() -> List[Tuple[str, str, str, float]]:
    """(alias, entity_id, entity_type, weight) — FIXTURES.md section 2.

    Aliases are NORMALIZED phrase forms.  Includes: multiple aliases per
    entity (a no-space edit variant reachable only via LSH), one shared
    ambiguous alias, and hot aliases (the first phrase of each type,
    which the corpus plants most often).
    """
    rows: List[Tuple[str, str, str, float]] = []
    eid = 0
    types = sorted(GAZETTEER)
    for typ in types:
        for phrase in GAZETTEER[typ]:
            if phrase in VARIANT_SURFACES:
                continue  # deliberately absent: LSH must link these
            entity = f"E{eid:06d}"
            norm = normalize_py(phrase)
            rows.append((norm, entity, typ, 1.0))
            # an LSH-reachable edit variant (missing final char)
            if len(norm) > 4:
                rows.append((norm[:-1], entity, typ, 0.5))
            eid += 1
    # ambiguity: one alias pointing at two entities with different weight
    rows.append((normalize_py("الأسد"), "E900000", "ORG", 0.2))
    return rows


def _plant(rng: random.Random, tokens: List[str], hot_phrases: List[str]) -> None:
    """Insert 1-3 gazetteer phrases (hot ones oversampled) into tokens."""
    n_plants = rng.randint(1, 3)
    types = sorted(GAZETTEER)
    for _ in range(n_plants):
        if rng.random() < 0.5 and hot_phrases:
            phrase = rng.choice(hot_phrases)
        else:
            typ = rng.choice(types)
            phrase = rng.choice(GAZETTEER[typ])
        pos = rng.randint(0, len(tokens))
        tokens[pos:pos] = phrase.split()


def make_transcript_rows(
    n_convs: int = 40,
    seed: int = 42,
) -> List[Tuple[str, int, str, str, str, datetime]]:
    """Rows matching schemas.TRANSCRIPTS, deterministic in ``seed``.
    Every 20th conversation (c % 20 == 5) is hot, with 50x the turns,
    and every 97th turn overflows the subword budget."""
    rng = random.Random(seed)
    hot_phrases = [GAZETTEER[t][0] for t in sorted(GAZETTEER)]
    rows: List[Tuple[str, int, str, str, str, datetime]] = []
    turn_counter = 0
    for c in range(n_convs):
        conv_id = f"conv_{c:06d}"
        base_turns = rng.randint(3, 12)
        n_turns = base_turns * (50 if c % 20 == 5 else 1)
        ts = _EPOCH + timedelta(seconds=c * 10_000)
        for t in range(n_turns):
            turn_counter += 1
            n_fill = rng.randint(4, 14)
            tokens = [rng.choice(FILLER) for _ in range(n_fill)]
            _plant(rng, tokens, hot_phrases)
            if turn_counter % 97 == 0:
                # > 510 stand-in subwords: pad with filler until the
                # subword budget overflows (~600 tokens is plenty).
                tokens += [rng.choice(FILLER) for _ in range(650)]
                # plant one entity in the truncated tail: its mention
                # must NOT be emitted (truncation semantics).
                tokens.append(GAZETTEER["GPE"][1])
            role = ROLES[t % 3]
            tool = rng.choice(TOOLS) if role == "tool" else None
            ts = ts + timedelta(seconds=rng.randint(1, 120))
            rows.append((conv_id, t, role, " ".join(tokens), tool, ts))
    return rows


def transcripts_df(spark, n_convs: int = 40, seed: int = 42):
    from arabicner_spark import schemas

    return local_table(spark, make_transcript_rows(n_convs=n_convs, seed=seed), schemas.TRANSCRIPTS)


def gazetteer_dict() -> Dict[str, set]:
    """The broadcastable {type: {phrase token tuples}} form, NORMALIZED."""
    return {
        typ: {tuple(normalize_py(p).split()) for p in phrases}
        for typ, phrases in GAZETTEER.items()
    }
