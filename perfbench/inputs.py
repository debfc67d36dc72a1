"""Seeded input generators.  The program under test only ever sees the
parquet files written here; every value derives from ``--seed``, except
the set of document texts, which is fixed (the seed sets their order).

* ``kg_corpus``: the synthetic transcript corpus (``sources.synth``, with
  its hot conversations and over-long turns) plus an open vocabulary of
  generated entity phrases.  Part of the vocabulary is in the alias
  dictionary; every phrase also gets a one-character-edit variant that
  only MinHash-LSH can link back to it.
* ``registry_tables``: the ten TPC-H-like tables the query registry
  reads, at the row counts of scale factor 0.01.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Set, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# letters the Arabic normalizer leaves unchanged, so a generated phrase
# is its own normalized form
_LETTERS = "بتثجحخدذرزسشصضطظعغفقكلمنهوي"

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class KgCorpus:
    rows: List[tuple]
    gazetteer: Dict[str, set]
    alias_rows: List[Tuple[str, str, str, float]]
    variants: Dict[str, str]  # planted variant surface -> its origin phrase


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(4, 6)))


def _edit(rng: random.Random, phrase: str) -> str:
    """One insertion, substitution or deletion inside the last word."""
    head, _, last = phrase.rpartition(" ")  # phrases have >= 2 words
    i = rng.randrange(1, len(last))
    kind = rng.randrange(3)
    if kind == 0:
        last = last[:i] + rng.choice(_LETTERS) + last[i:]
    elif kind == 1:
        last = last[:i] + rng.choice(_LETTERS.replace(last[i], "")) + last[i + 1 :]
    else:
        last = last[:i] + last[i + 1 :]
    return f"{head} {last}"


def kg_corpus(seed: int, n_turns: int, n_entities: int, dict_share: float = 0.6) -> KgCorpus:
    """Exactly ``n_turns`` synthetic turns plus ``n_entities`` short turns."""
    from arabicner_spark.functions.normalize import normalize_py
    from arabicner_spark.operators.triples import DEFAULT_PREDICATES
    from arabicner_spark.sources import synth

    # a fixed turn count keeps the work per pass the same for every seed
    n_convs = n_turns // 8
    rows = synth.make_transcript_rows(n_convs=n_convs, seed=seed)
    while len(rows) < n_turns:
        n_convs *= 2
        rows = synth.make_transcript_rows(n_convs=n_convs, seed=seed)
    rows = rows[:n_turns]
    gazetteer = synth.gazetteer_dict()
    alias_rows = synth.make_alias_rows()
    rng = random.Random(seed * 1_000_003 + 17)

    taken: Set[str] = {normalize_py(p) for ps in synth.GAZETTEER.values() for p in ps}
    taken |= {normalize_py(w) for w in synth.FILLER}

    def new_entity(typ: str) -> Tuple[str, str, str]:
        while True:
            phrase = " ".join(_word(rng) for _ in range(rng.randint(2, 3)))
            variant = _edit(rng, phrase)
            if phrase not in taken and variant not in taken and variant != phrase:
                taken.update((phrase, variant))
                return phrase, variant, typ

    # entities come in (subject, object) pairs typed after a predicate,
    # so each short turn yields a triple and the triple count per pass
    # hardly depends on the seed
    type_pairs = [(s, o) for s, _p, o in DEFAULT_PREDICATES]
    pairs = [
        (new_entity(type_pairs[i % len(type_pairs)][0]), new_entity(type_pairs[i % len(type_pairs)][1]))
        for i in range(n_entities // 2)
    ]

    variants: Dict[str, str] = {}
    for i, (phrase, variant, typ) in enumerate(e for pair in pairs for e in pair):
        for p in (phrase, variant):
            gazetteer.setdefault(typ, set()).add(tuple(p.split()))
        if rng.random() < dict_share:
            alias_rows.append((phrase, f"V{i:06d}", typ, 1.0))
        variants[variant] = phrase

    # one short turn per pair of origins and one per pair of variants
    plants = [(a[k], b[k]) for a, b in pairs for k in (0, 1)]
    rng.shuffle(plants)
    epoch = datetime(2026, 3, 1, tzinfo=timezone.utc)

    def filler(lo: int, hi: int) -> List[str]:
        return [rng.choice(synth.FILLER) for _ in range(rng.randint(lo, hi))]

    for k, (subj, obj) in enumerate(plants):
        conv, turn = divmod(k, 8)
        tokens = filler(1, 3) + subj.split() + filler(0, 3) + obj.split() + filler(0, 2)
        ts = epoch + timedelta(seconds=conv * 1000 + turn * 7)
        rows.append((f"ov_{conv:06d}", turn, synth.ROLES[turn % 3], " ".join(tokens), None, ts))
    return KgCorpus(rows, gazetteer, alias_rows, variants)


def write_transcripts(rows: List[tuple], path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_SCHEMA)],
        schema=TRANSCRIPT_SCHEMA,
    )
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------ registry

WORDS = (
    "query row stream the batch sort value hash filter big data spark line "
    "small fast group customer part column order scan a slow agg key window "
    "table merge vector join"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DOC_TEXT_SEED = 20260301

# row counts of scale factor 0.01
SF001 = dict(
    documents=500, embeddings=500, events=10_000, users=150, lineitem=60_000,
    orders=15_000, customer=1_500, part=2_000, supplier=100,
)


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int, out_dir: str) -> Dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables; returns row counts."""
    n = SF001
    rng = np.random.default_rng(seed)
    t: Dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = ["large", "hot", "blue", "small", "red", "cold"]
    noun = ["ring", "bolt", "nut", "gear", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 5, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"][i] for i in rng.integers(0, 5, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * 86400),
        "o_orderpriority": [
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
            for i in rng.integers(0, 5, no)
        ],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * 86400),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    # The texts are one fixed set in a seeded order: kg_edges returns one
    # row per distinct triple per document, so its row count, the
    # workload's triple count, is then the same for every seed (with
    # seeded texts it moved by a tenth between seeds).
    trng = np.random.default_rng(DOC_TEXT_SEED)
    texts: List[str] = []
    for i in range(nd):
        if i > 10 and trng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(trng.integers(0, i))] + " dup" * int(trng.integers(1, 3)))
        elif i > 10 and trng.random() < 0.01:  # exact duplicate
            texts.append(texts[int(trng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[j] for j in trng.integers(0, len(WORDS), int(trng.integers(10, 101)))))
    texts = [texts[i] for i in rng.permutation(nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
