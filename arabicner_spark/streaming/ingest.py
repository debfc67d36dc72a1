"""Structured-Streaming ingest variant.

The north rule is batch Iceberg-in / Iceberg-out (streaming is a
non-goal, SURVEY.md section 2.B), but the NER stage composes with
``readStream`` unchanged — mapInPandas is streaming-safe — so a
micro-batch deployment is one writeStream away.  This module provides
that surface plus a watermarked per-minute mention-rate monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.operators import ner


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript parquet drops."""
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def streaming_mentions(stream: DataFrame, gazetteer) -> DataFrame:
    """The SAME extract_mentions scoring loop over a streaming frame,
    minus the repartition (stateless map — no shuffle before a stateless
    sink; partitioning is the source's concern in streaming).

    One scoring implementation: this reuses ner.make_score_batches
    verbatim (same collate/pad/decode path as the batch stage, gazetteer
    prepared once per closure — not per row), carrying ``ts`` through as
    a passthrough column for the watermarked monitor downstream.
    """
    from arabicner_spark.functions import tagcore

    pruned = stream.select("conv_id", "turn_idx", "text", "ts")
    spark = stream.sparkSession
    types = tagcore.gazetteer_types(gazetteer)
    bc = spark.sparkContext.broadcast((gazetteer, types, tagcore.DEFAULT_MAX_SEQ_LEN))

    score = ner.make_score_batches(bc, passthrough=("ts",))
    schema = (
        "conv_id string, turn_idx int, level int, type string, "
        "start_tok int, end_tok int, text string, ts timestamp"
    )
    return pruned.mapInPandas(score, schema=schema)


def streaming_conv_totals(mentions_stream: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    a per-conversation running mention counter that survives micro-batch
    boundaries (the state store carries it), emitting the updated total
    whenever a conversation receives new mentions.

    This is the mandate's custom-stateful-operator shape: state schema
    is explicit, the update function is Arrow-batched (iterator of
    pandas frames per key), and output mode is ``update``.  The counter
    is monotone, so downstream consumers may take max-per-key when
    reading an update-mode sink.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, total_mentions bigint"
    state_schema = "n bigint"

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"conv_id": [key[0]], "total_mentions": [n]})

    return (
        mentions_stream.groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def user_session_aggregates(events_stream: DataFrame) -> DataFrame:
    """Watermarked SESSION-window aggregation per user: Spark's native
    dynamic-gap session windows under the streaming state store (the
    sessionization physical operator differs from batch — this is the
    streaming-engine counterpart of the batch rel_session_window
    query).  Sessions merge while consecutive events are <= 300 s apart;
    watermark (10 min) bounds how long an open session's state waits
    for late events before it can be finalized."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "300 seconds").alias("session_window"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )


def join_turn_metadata(
    mentions_stream: DataFrame,
    turns_stream: DataFrame,
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: the extracted-mentions
    stream enriched with per-turn metadata (role) from a second,
    independent stream of the raw turns.

    Both sides carry a 10-minute watermark and the join condition bounds
    the event-time distance (|mention.ts - turn.ts| <= 300 s), so the
    state store can evict buffered rows once the other side's watermark
    passes the tolerance window — without the time bound, stream-stream
    join state grows forever (the production kill at 100 TB/day).
    Append output mode: each joined row is emitted exactly once.
    """
    m = mentions_stream.withWatermark("ts", "10 minutes").alias("m")
    t = (
        turns_stream.select(
            F.col("conv_id").alias("t_conv_id"),
            F.col("turn_idx").alias("t_turn_idx"),
            "role",
            F.col("ts").alias("turn_ts"),
        )
        .withWatermark("turn_ts", "10 minutes")
        .alias("t")
    )
    cond = (
        (F.col("m.conv_id") == F.col("t.t_conv_id"))
        & (F.col("m.turn_idx") == F.col("t.t_turn_idx"))
        & (F.col("m.ts") >= F.col("t.turn_ts") - F.expr("INTERVAL 300 SECONDS"))
        & (F.col("m.ts") <= F.col("t.turn_ts") + F.expr("INTERVAL 300 SECONDS"))
    )
    return m.join(t, cond, "inner").select(
        "m.conv_id",
        "m.turn_idx",
        "t.role",
        "m.level",
        "m.type",
        "m.start_tok",
        "m.end_tok",
        "m.text",
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys,
    watermark_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a seen-keys map only until
    the watermark passes each key's event time + delay, then evicts —
    unlike plain ``dropDuplicates`` on a stream, whose state grows with
    every distinct key ever seen.  The contract is: duplicates arriving
    within the watermark delay of each other are suppressed; a
    duplicate arriving later than that MAY be re-emitted (the
    at-least-once boundary a downstream idempotent sink absorbs).
    """
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def idempotent_parquet_sink(out_dir: str, key_cols) -> "callable":
    """foreachBatch writer with EXACTLY-ONCE table semantics on top of
    Structured Streaming's at-least-once batch replay: each micro-batch
    lands in a partition directory keyed by its epoch id
    (``__epoch=<id>``), written with overwrite mode — a replayed batch
    (failure between sink commit and checkpoint commit, the classic
    duplication window) overwrites its own directory instead of
    appending a second copy.  Readers see every epoch exactly once.

    This is the pattern a production pipeline uses for file/Iceberg
    sinks; with Iceberg the epoch id goes into a snapshot property and
    replay becomes a no-op commit.  Returns the foreachBatch function
    (attach with ``.writeStream.foreachBatch(...)``).
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(*key_cols)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/__epoch={epoch_id}")
        )

    return write_batch


def mention_rate(mentions_stream: DataFrame) -> DataFrame:
    """Watermarked 1-minute mention counts per type (late data: 2 min)."""
    return (
        mentions_stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "type")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "type", "n_mentions")
    )
