"""Distributed NER stage: the reference's operators #8-#16 fused into
one ``mapInPandas`` pass (SURVEY.md section 2.A), Arrow batch = collate
batch.

Reference path reproduced: subword encode + first-subword tag alignment
(arabiner/data/transforms.py:23-52), truncation (:101-107), batched
B x T x L x C scoring (arabiner/nn/BertNestedTagger.py:27-33), argmax
decode (arabiner/trainers/BertNestedTrainer.py:172), first-subword
realignment + span extraction (:179-203, arabiner/utils/metrics.py).
All per-turn semantics live in ``functions.tagcore`` and are shared
verbatim with the serial oracle.

Scale design:
  * column pruning BEFORE the Python stage — only (conv_id, turn_idx,
    text) crosses the Arrow boundary;
  * skew: a hot conversation must not land in a single Arrow batch, so
    the stage input is repartitioned on the full (conv_id, turn_idx)
    turn key — per-turn scoring needs no conversation locality, and the
    full key is uniform under any conv skew (AQE cannot fix UDF-stage
    skew, only join/agg skew);
  * the gazetteer/weights are broadcast once per executor, not shipped
    per task closure;
  * a batched ``score_fn`` gets one forward per collate chunk of the
    Arrow batch, mirroring the reference's collate
    (arabiner/data/datasets.py:128-150); each turn's logits are then
    decoded by the serial oracle's own ``tagcore.decode_turn`` call.
"""

from __future__ import annotations

from typing import Dict, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.functions import tagcore
from arabicner_spark.functions.normalize import normalize_py


def make_score_batches(bc, score_fn=None, encoder=None, passthrough: tuple = ()):
    """Build the Iterator[pd.DataFrame] -> Iterator[pd.DataFrame] scoring
    closure — the ONE implementation of the fused encode/score/decode
    loop, shared by the batch stage (extract_mentions) and the streaming
    stage (streaming/ingest.streaming_mentions).

    ``bc`` broadcasts (gazetteer, types, max_seq_len).  ``score_fn(
    norm_tokens, gaz, types, max_seq_len, enc) -> (T, L, 3) float32`` is
    the model injection point; a score_fn carrying ``batched = True`` is
    instead called ONCE per collate chunk as ``score_fn(list_of_turns,
    gaz, types, max_seq_len, encs=list) -> list of (T_i, L, 3)`` — the
    reference's batch-forward shape (datasets.py:128-150 collate +
    BaseTrainer.tag), which a real accelerator-backed model needs.
    ``encoder(norm_tokens, max_seq_len) ->
    (first_subword_idx, n_subwords, n_taggable, ...)`` is the tokenizer
    injection point (a real WordPiece encoder from
    functions.bert_scorer drops in here; default = tagcore's stand-in).
    ``passthrough`` columns are copied verbatim from each input turn
    onto its emitted mention rows (the streaming path carries ``ts``).
    """
    score_fn = score_fn or tagcore.score_turn
    encoder = encoder or tagcore.encode_tokens

    COLLATE = 256  # reference batch granularity (bin/train.py:70-74)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz, typs, msl = bc.value
        pg = tagcore.prepare(gaz)  # first-token index, built once per task
        # normalize is pure; corpora repeat tokens heavily, so a
        # per-task memo turns most calls into one dict hit.  Bounded:
        # a long-lived worker sees an open vocabulary at scale, so the
        # memo resets at tagcore.MEMO_CAP instead of growing forever.
        norm_cache = tagcore.BoundedMemo(tagcore.MEMO_CAP)

        def norm_tok(w):
            v = norm_cache.get(w)
            if v is None:
                v = norm_cache.put(w, normalize_py(w))
            return v
        for pdf in batches:
            texts = pdf["text"].fillna("").tolist()
            convs = pdf["conv_id"].tolist()
            turns = pdf["turn_idx"].tolist()
            extra = {c: pdf[c].tolist() for c in passthrough}
            out = {k: [] for k in schemas.MENTIONS.fieldNames()}
            for c in passthrough:
                out[c] = []
            # collate in sub-batches: a batched score_fn's forward
            # (and whatever it pads to, datasets.py:139-148) is bounded
            # by COLLATE turns, not the Arrow batch — Arrow batches can
            # be 10^4 rows.
            for lo in range(0, len(texts), COLLATE):
                chunk = texts[lo : lo + COLLATE]
                toks = [t.split() for t in chunk]
                norm = [[norm_tok(w) for w in ts] for ts in toks]
                enc = [encoder(n, msl) for n in norm]
                if getattr(score_fn, "batched", False):
                    # one forward per collate chunk (the reference's
                    # batch path, datasets.py:128-150 + BaseTrainer.tag)
                    # — essential for a real model, where per-turn
                    # forwards waste the accelerator
                    logits = score_fn(norm, pg, typs, msl, encs=enc)
                else:
                    logits = [
                        score_fn(n, pg, typs, msl, enc=e)
                        for n, e in zip(norm, enc)
                    ]
                for i, (lg, e) in enumerate(zip(logits, enc)):
                    # the serial oracle's own decode call, per turn
                    spans = tagcore.decode_turn(lg, e[0], e[2], typs)
                    gi = lo + i
                    for lvl, typ, s, en in spans:
                        out["conv_id"].append(convs[gi])
                        out["turn_idx"].append(turns[gi])
                        out["level"].append(lvl)
                        out["type"].append(typ)
                        out["start_tok"].append(s)
                        out["end_tok"].append(en)
                        out["text"].append(" ".join(toks[i][s:en]))
                        for c in passthrough:
                            out[c].append(extra[c][gi])
            res = pd.DataFrame(out).astype(
                {
                    "turn_idx": "int32",
                    "level": "int32",
                    "start_tok": "int32",
                    "end_tok": "int32",
                }
            )
            for c in passthrough:
                # empty batches must not degrade e.g. timestamp to float64
                res[c] = res[c].astype(pdf[c].dtype)
            yield res

    return score_batches


def extract_mentions(
    transcripts: DataFrame,
    gazetteer: Dict[str, set],
    max_seq_len: int = tagcore.DEFAULT_MAX_SEQ_LEN,
    salt_partitions: int | None = None,
    score_fn=None,
    encoder=None,
) -> DataFrame:
    """transcripts -> mentions (schemas.MENTIONS).

    ``gazetteer`` is the normalized {type: {phrase tuples}} dict (small;
    broadcast).  ``salt_partitions`` sets the width of the full-turn-key
    repartition that breaks conversation skew before the Python stage.

    ``score_fn`` / ``encoder`` plug in a real model + tokenizer (see
    make_score_batches and functions.bert_scorer.attach); defaults are
    the deterministic gazetteer scorer + stand-in chunker.
    """
    spark = transcripts.sparkSession
    types = tagcore.gazetteer_types(gazetteer)
    bc = spark.sparkContext.broadcast((gazetteer, types, max_seq_len))

    pruned = transcripts.select("conv_id", "turn_idx", "text")
    # Always salt-repartition the Python stage input: (a) a hot conv_id
    # must not land in one Arrow batch (skew), (b) a single-split scan
    # (one parquet file) must not serialize the whole NER stage onto one
    # core.  Default width = cluster parallelism.
    n_parts = salt_partitions or spark.sparkContext.defaultParallelism
    # Balance policy for the Python stage, in preference order:
    #   1. If the input already has >= n_parts partitions (a parquet
    #      scan with enough splits), use them as-is: scan splits are
    #      BYTE-balanced regardless of key skew — a hot conversation is
    #      just bytes spread across byte ranges — and per-turn scoring
    #      needs no locality, so a repartition would only add a
    #      full-corpus shuffle (measured: the shuffle was ~15% of the
    #      mentions-stage wall on a 20.7M-turn corpus).
    #   2. Otherwise (few files, giant row groups, narrow upstream)
    #      repartition on the FULL turn key — hashing (conv_id,
    #      turn_idx) is uniform under ANY conversation skew.  Coarser
    #      salts (turn_idx % K) were measured worse on a 25%-hot
    #      corpus: K=16 -> +37% wall, K=4N -> +25% (balls-in-bins
    #      lumps); the full key erases the conv from the balance
    #      question.
    # ``salt_partitions`` forces policy 2 at the given width (callers
    # passing a key-skew-partitioned upstream should force it).
    if salt_partitions or pruned.rdd.getNumPartitions() < n_parts:
        pruned = pruned.repartition(n_parts, "conv_id", "turn_idx")

    score_batches = make_score_batches(bc, score_fn=score_fn, encoder=encoder)
    return pruned.mapInPandas(score_batches, schema=schemas.MENTIONS)

