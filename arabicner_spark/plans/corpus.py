"""End-to-end TRAINING-DATA corpus pipeline: the second first-class
dataflow next to the KG pipeline (plans/pipeline.py), composing the
corpus-side operators into one resumable, checkpointed run:

    documents --(scrub)--> clean --(quality+tokens)--> scored
       --(dedup survivors)--> kept --(weighted sample)--> sampled
       --(split)--> splits --(pack)--> chunk map

Every stage runs through the SAME StageRunner as the KG path
(manifest + per-partition metrics + resume-skip), so a failed daily
run restarts from its last complete stage; the whole pipeline is a
deterministic function of (input table, config) — no RNG anywhere
(md5-cut sampling/splitting, priority sampling, fixed-order packing).

Scale posture by stage: scrub/quality/tokens are zero-shuffle codegen
projections; dedup is the exact-star + MinHash-LSH + CC chain with its
width pins; sampling is a TakeOrderedAndProject; split adds a pure
column; packing is the two-pass distributed prefix sum.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabicner_spark.functions.pii import scrub_pii
from arabicner_spark.functions.sampling import weighted_sample
from arabicner_spark.operators.incremental import dedup_decision
from arabicner_spark.operators.pack import pack_sequences
from arabicner_spark.operators.tokencount import subword_counts_expr
from arabicner_spark.plans.lineage import StageRunner
from arabicner_spark.sources.io import TableIO
from arabicner_spark.sources.process import split_by_hash


@dataclass
class CorpusConfig:
    sample_k: int = 10_000          # weighted-sample size
    sample_seed: int = 7
    split_seed: int = 1
    chunk: int = 512                # packing chunk (tokens)
    min_tokens: int = 3             # quality floor

    def snapshot(self, extra: str) -> str:
        import hashlib as _h
        import json as _j

        return _h.md5(
            _j.dumps(
                [self.sample_k, self.sample_seed, self.split_seed, self.chunk,
                 self.min_tokens, extra],
            ).encode()
        ).hexdigest()


def _dedup_keep(docs: DataFrame) -> DataFrame:
    """(doc_id, keep_doc) via the SHARED dedup chain
    (operators/incremental.py::dedup_decision) — one definition of the
    exact-star + MinHash-LSH + CC survivors composition serves the
    corpus pipeline, the registry and the incremental-state path.  Only
    the decision is read, so no hashes/bands state is materialized."""
    d = docs.select(F.col("doc_id").cast("string").alias("id"), "text")
    return dedup_decision(d).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("keep").cast("bigint").alias("keep_doc"),
    )


def run_corpus_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    cfg: CorpusConfig,
    out_root: str,
    run_id: str = "c0",
    input_snapshot: str = "",
) -> Dict[str, DataFrame]:
    """Run (or resume) the corpus pipeline; returns the stage tables."""
    io = TableIO.auto(spark, out_root)
    runner = StageRunner(io, run_id, cfg.snapshot(input_snapshot))

    clean = runner.run(
        "scrub",
        "clean",
        lambda: scrub_pii(documents.select("doc_id", "text"), "text").select(
            "doc_id", "text", "scrubbed", "n_email", "n_ip", "n_phone", "n_num"
        ),
    )
    scored = runner.run(
        "score",
        "scored",
        lambda: subword_counts_expr(clean, "doc_id", "scrubbed")
        .join(clean.select("doc_id", "scrubbed"), "doc_id")
        .where(F.col("n_tokens") >= cfg.min_tokens),
        rows_in_of="clean",
    )
    kept = runner.run(
        "dedup",
        "kept",
        lambda: scored.select("doc_id", F.col("scrubbed").alias("text"))
        .transform(_dedup_keep)
        .where(F.col("doc_id") == F.col("keep_doc"))
        .join(scored, "doc_id")
        .select("doc_id", "scrubbed", "n_subwords"),
        rows_in_of="scored",
    )
    sampled = runner.run(
        "sample",
        "sampled",
        lambda: weighted_sample(
            kept, "doc_id", "n_subwords", cfg.sample_k, seed=cfg.sample_seed
        ),
        rows_in_of="kept",
    )
    splits = runner.run(
        "split",
        "splits",
        lambda: split_by_hash(sampled, "doc_id", seed=cfg.split_seed),
        rows_in_of="sampled",
    )
    packed = runner.run(
        "pack",
        "packed",
        lambda: pack_sequences(
            splits.where(F.col("split") == "train"),
            "doc_id",
            "n_subwords",
            chunk=cfg.chunk,
        ),
        rows_in_of="splits",
    )
    return {
        "clean": clean,
        "scored": scored,
        "kept": kept,
        "sampled": sampled,
        "splits": splits,
        "packed": packed,
    }
