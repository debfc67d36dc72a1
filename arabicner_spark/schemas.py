"""Fixed, explicit StructTypes for the pipeline's tables: its input,
mentions, triples, alias dictionary, nodes, edges and metrics, and the
multimodal assets.  tests/test_resume.py pins run_pipeline's triples,
edges and nodes, read back, to these field names and types.

Schemas are never inferred (the reference's duck-typed implicit schemas
are a determinism hazard, SURVEY.md section 1.4).  Input shape is fixed
by BASELINE.json's input_hint.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# pipeline input (BASELINE.json input_hint)
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# NER stage output; end_tok is EXCLUSIVE; level indexes the sorted-type
# BIO head that produced the span (nesting = overlap across levels).
MENTIONS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("level", IntegerType(), False),
        StructField("type", StringType(), False),
        StructField("start_tok", IntegerType(), False),
        StructField("end_tok", IntegerType(), False),
        StructField("text", StringType(), False),
    ]
)

TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("subj_type", StringType(), False),
        StructField("obj_type", StringType(), False),
    ]
)

ALIAS_DICT = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("entity_id", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("weight", DoubleType(), False),
    ]
)

NODES = StructType(
    [
        StructField("node_id", StringType(), False),
        StructField("canonical_text", StringType(), False),
        StructField("type", StringType(), False),
        StructField("n_mentions", LongType(), False),
        StructField("first_ts", TimestampType(), True),
    ]
)

EDGES = StructType(
    [
        StructField("src", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("ts", TimestampType(), True),
    ]
)

METRICS = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_out", LongType(), False),
        StructField("triples", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("run_id", StringType(), False),
    ]
)

# multimodal assets: opaque binary payload + typed metadata
ASSETS = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("conv_id", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
        StructField("meta_duration_ms", LongType(), True),
    ]
)
