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
  * width by input bytes: with the default gazetteer scorer, an input
    estimated under ``PY_TASK_BYTES`` times the cluster's parallelism
    runs one Python task per ``PY_TASK_BYTES``, its extra scan splits
    coalesced (narrow, no job).  Larger inputs, and any caller's
    ``score_fn``, keep their scan splits when there are at least as
    many as the cluster's parallelism.  Too few splits are
    repartitioned on the full (conv_id, turn_idx) turn key, which is
    uniform under any conversation skew (AQE cannot fix UDF-stage skew,
    only join/agg skew), and so is an adaptive (shuffled) input, whose
    split count only running its query stages would tell;
    ``salt_partitions`` always forces that repartition;
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

# Estimated input bytes per Python task of extract_mentions with the
# default gazetteer scorer (the optimizer's sizeInBytes of the pruned
# (conv_id, turn_idx, text) input, which reads ~180 KB for 350 KB of
# transcript parquet).  Every Python task pays ~0.25-0.35 CPU-s of
# worker set-up (pyspark's setup_spark_files re-scans pyspark.zip's
# directory for each zipimporter) and holds its own ~127 MB worker
# process, while the gazetteer closure takes ~0.5 CPU-s for those
# 350 KB.  So a 350 KB corpus split over 4 tasks paid more set-up than
# scoring; at 8 MB a task scores ~20 CPU-s and the set-up stays ~1-2%
# of it.  The price is wall time on mid-sized inputs, which run on
# fewer cores.  A caller's score_fn (a real model) costs far more per
# byte than the closure this was measured on, so it keeps full width.
PY_TASK_BYTES = 8 << 20


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
    broadcast).  ``salt_partitions`` forces a full-turn-key repartition
    of that width before the Python stage; otherwise, with the default
    scorer, a small input's width follows its estimated bytes
    (``PY_TASK_BYTES``).

    ``score_fn`` / ``encoder`` plug in a real model + tokenizer (see
    make_score_batches and functions.bert_scorer.attach); defaults are
    the deterministic gazetteer scorer + stand-in chunker.
    """
    spark = transcripts.sparkSession
    types = tagcore.gazetteer_types(gazetteer)
    bc = spark.sparkContext.broadcast((gazetteer, types, max_seq_len))

    pruned = transcripts.select("conv_id", "turn_idx", "text")
    # Balance policy for the Python stage.  ``want`` tasks: the
    # cluster's parallelism, or with the default scorer one task per
    # PY_TASK_BYTES of the optimizer's size estimate (no Spark job) when
    # that is fewer.  An unknown estimate reads as
    # spark.sql.defaultSizeInBytes and so asks for full parallelism.
    #   * More input partitions than a below-parallelism ``want``:
    #     coalesce them (narrow, no shuffle).  At full width the scan
    #     splits are kept however many: they are BYTE-balanced
    #     regardless of key skew, per-turn scoring needs no locality,
    #     and a failed task reruns one split, so a shuffle would buy
    #     nothing (it was ~15% of the mentions-stage wall on a
    #     20.7M-turn corpus).
    #   * Fewer (few files, giant row groups, narrow upstream):
    #     repartition on the FULL turn key — hashing (conv_id,
    #     turn_idx) is uniform under ANY conversation skew.  Coarser
    #     salts (turn_idx % K) were measured worse on a 25%-hot corpus:
    #     K=16 -> +37% wall, K=4N -> +25% (balls-in-bins lumps).
    #   * An adaptive (shuffled) input takes the same repartition to
    #     ``want``: its partition count is only known after AQE runs
    #     its query stages, so reading it would run Spark jobs.
    # ``salt_partitions`` forces the full-key repartition at that
    # width (callers passing a key-skew-partitioned upstream should
    # force it).
    if salt_partitions:
        pruned = pruned.repartition(salt_partitions, "conv_id", "turn_idx")
    else:
        dp = want = spark.sparkContext.defaultParallelism
        qe = pruned._jdf.queryExecution()
        if score_fn is None:
            est = int(qe.optimizedPlan().stats().sizeInBytes())
            want = min(max(-(-est // PY_TASK_BYTES), 1), dp)
        adaptive = qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        have = 0 if adaptive else pruned.rdd.getNumPartitions()
        if want < dp and have > want:
            pruned = pruned.coalesce(want)
        elif have < want:
            pruned = pruned.repartition(want, "conv_id", "turn_idx")

    score_batches = make_score_batches(bc, score_fn=score_fn, encoder=encoder)
    return pruned.mapInPandas(score_batches, schema=schemas.MENTIONS)

