"""End-to-end KG construction pipeline: the north-star dataflow.

    transcripts --(ner)--> mentions --(triples)--> triples
         \\                    \\--(linking)--> surface_map
          \\--> nodes (canonical, typed, counted, first-seen)
                edges (canonical src/dst, partitioned by pred)

Every stage runs through StageRunner: checkpointed output table,
``_metrics`` rows, manifest, resume-skip.  The whole pipeline is a
deterministic function of (input table, gazetteer, alias dict, config).

A pass costs per-job overhead and generated code, not data: the tables
after NER are vocabulary-sized.  So the plans stay small enough that a
warm pass finds its generated classes in Spark's codegen cache
(``tools/pass_profile.py`` prints both per stage).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabicner_spark.functions.normalize import normalize_col
from arabicner_spark.operators import ner
from arabicner_spark.operators.linking import best_alias, canonicalize_triples, link_surfaces
from arabicner_spark.operators.triples import (
    DEFAULT_PREDICATES,
    DEFAULT_WINDOW,
    extract_triples,
)
from arabicner_spark.plans.lineage import StageRunner
from arabicner_spark.sources.io import TableIO


@dataclass
class PipelineConfig:
    gazetteer: Dict[str, set]
    alias_rows: List[Tuple[str, str, str, float]]
    predicates: List[Tuple[str, str, str]] = field(default_factory=lambda: list(DEFAULT_PREDICATES))
    window: int = DEFAULT_WINDOW
    max_seq_len: int = 512
    salt_partitions: Optional[int] = None
    jaccard_threshold: float = 0.5

    def snapshot(self, extra: str) -> str:
        """Deterministic config+input fingerprint for resume checks."""
        payload = json.dumps(
            {
                "gaz": {t: sorted(map(list, ps)) for t, ps in sorted(self.gazetteer.items())},
                "alias": sorted(self.alias_rows),
                "preds": sorted(self.predicates),
                "window": self.window,
                "max_seq_len": self.max_seq_len,
                "jaccard": self.jaccard_threshold,
                "input": extra,
            },
            sort_keys=True,
        )
        return hashlib.md5(payload.encode()).hexdigest()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    out_root: str,
    run_id: str = "r0",
    input_snapshot: str = "",
) -> Dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the output tables."""
    io = TableIO.auto(spark, out_root)
    runner = StageRunner(io, run_id, cfg.snapshot(input_snapshot))
    alias_best = best_alias(spark, cfg.alias_rows)

    mentions = runner.run(
        "mentions",
        "mentions",
        lambda: ner.extract_mentions(
            runner.observe(transcripts, "transcripts"),
            cfg.gazetteer,
            cfg.max_seq_len,
            cfg.salt_partitions,
        ),
        partition_by=["type"],
        rows_in_of="transcripts",
    )
    triples = runner.run(
        "triples",
        "triples",
        lambda: extract_triples(mentions, cfg.predicates, cfg.window),
        rows_in_of="mentions",
        count_as_triples=True,
    )
    surface_map = runner.run(
        "linking",
        "surface_map",
        lambda: link_surfaces(mentions, alias_best, cfg.jaccard_threshold),
        rows_in_of="mentions",
    )
    edges = runner.run(
        "edges",
        "edges",
        lambda: _edges(triples, surface_map, transcripts),
        partition_by=["pred"],
        rows_in_of="triples",
        count_as_triples=True,
    )
    nodes = runner.run(
        "nodes",
        "nodes",
        lambda: _nodes(mentions, surface_map, transcripts),
        partition_by=["type"],
        rows_in_of="mentions",
    )
    return {
        "mentions": mentions,
        "triples": triples,
        "surface_map": surface_map,
        "edges": edges,
        "nodes": nodes,
    }


def _edges(triples: DataFrame, surface_map: DataFrame, transcripts: DataFrame) -> DataFrame:
    canon = canonicalize_triples(triples, surface_map)
    ts = transcripts.select("conv_id", "turn_idx", "ts")
    return canon.join(ts, ["conv_id", "turn_idx"], "left").select(
        "src", "pred", "dst", "conv_id", "turn_idx", "ts"
    )


def _nodes(mentions: DataFrame, surface_map: DataFrame, transcripts: DataFrame) -> DataFrame:
    m = mentions.withColumn("surface", normalize_col(F.col("text")))
    m = m.join(F.broadcast(surface_map.select("surface", "canonical_id")), "surface", "left")
    m = m.withColumn(
        "node_id", F.coalesce("canonical_id", F.concat(F.lit("S:"), "surface"))
    )
    ts = transcripts.select("conv_id", "turn_idx", "ts")
    m = m.join(ts, ["conv_id", "turn_idx"], "left")
    # mentions -> distinct (node, type, surface) first, in a hash
    # aggregate; the second level then collects a node's distinct
    # surfaces, never its mentions.  A string min cannot run in a hash
    # aggregate (it plans as sort + sort aggregate), and making every
    # second-level aggregate a bounded list collect keeps that level one
    # object-hash aggregate with the least generated code
    per_surface = m.groupBy("node_id", "type", "surface").agg(
        F.count("*").alias("n"), F.min("ts").alias("ts")
    )
    return per_surface.groupBy("node_id", "type").agg(
        F.array_min(F.collect_list("surface")).alias("canonical_text"),
        F.aggregate(F.collect_list("n"), F.lit(0).cast("long"), lambda acc, n: acc + n).alias("n_mentions"),
        F.array_min(F.collect_list("ts")).alias("first_ts"),
    ).select("node_id", "canonical_text", "type", "n_mentions", "first_ts")
