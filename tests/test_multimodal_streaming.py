"""Multimodal plumbing (stubbed decode) and streaming NER surface."""

import pytest
from pyspark.sql import functions as F

from arabicner_spark import schemas
from arabicner_spark.operators import multimodal
from arabicner_spark.sources import synth
from arabicner_spark.streaming import ingest


@pytest.fixture()
def assets(spark):
    rows = [
        ("a1", "c1", 0, "image", b"\x89PNG fake bytes", 64, 48, None),
        ("a2", "c1", 1, "audio", b"RIFF fake wav", None, None, 1500),
        ("a3", "c2", 0, "video", b"\x00\x00ftyp fake", 320, 240, 3500),
        ("a4", "c2", 1, "image", None, None, None, None),  # null payload
    ]
    return spark.createDataFrame(rows, schemas.ASSETS)


def test_real_decode_path_raises(spark, assets):
    with pytest.raises(Exception) as exc:
        multimodal.resize_assets(assets, decode_stub=False).collect()
    assert "NotImplementedError" in str(exc.value) or "not available" in str(exc.value)


def test_streaming_mentions_micro_batch(spark, tmp_path):
    """Drive the streaming surface end-to-end with a file source and a
    memory sink; results must equal the batch stage on the same rows."""
    from arabicner_spark.operators import ner

    rows = synth.make_transcript_rows(n_convs=6, seed=7)
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    src = str(tmp_path / "stream_src")
    df.write.parquet(src)

    gaz = synth.gazetteer_dict()
    stream = ingest.stream_transcripts(spark, src)
    assert stream.isStreaming
    q = (
        ingest.streaming_mentions(stream, gaz)
        .writeStream.format("memory")
        .queryName("mstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.conv_id, r.turn_idx, r.level, r.type, r.start_tok, r.end_tok, r.text)
        for r in spark.sql("select * from mstream").collect()
    }
    want = {
        (r.conv_id, r.turn_idx, r.level, r.type, r.start_tok, r.end_tok, r.text)
        for r in ner.extract_mentions(df, gaz).collect()
    }
    assert got == want and got


def test_streaming_mention_rate_watermarked(spark, tmp_path):
    """Watermarked windowed aggregate over the mention stream."""
    from arabicner_spark import schemas
    from arabicner_spark.sources import synth
    from arabicner_spark.streaming import ingest

    rows = synth.make_transcript_rows(n_convs=4, seed=11)
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    src = str(tmp_path / "rate_src")
    df.write.parquet(src)
    stream = ingest.stream_transcripts(spark, src)
    rates = ingest.mention_rate(ingest.streaming_mentions(stream, synth.gazetteer_dict()))
    q = (
        rates.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from rates").collect()
    assert got and all(r.n_mentions > 0 for r in got)
    assert {"window_start", "type", "n_mentions"} == set(got[0].asDict())


def test_resize_assets_stub(spark, assets):
    got = {r.asset_id: r for r in multimodal.resize_assets(assets, max_side=32).collect()}
    assert set(got) == {"a1", "a2", "a3", "a4"}
    for r in got.values():
        # aspect-preserving: the longer side is capped, ratio kept
        assert max(r.dst_width, r.dst_height) <= 32
        assert r.dst_width <= r.src_width and r.dst_height <= r.src_height
        assert len(r.resized_md5) == 32
    # deterministic across runs
    again = {r.asset_id: r.resized_md5 for r in multimodal.resize_assets(assets, max_side=32).collect()}
    assert again == {k: v.resized_md5 for k, v in got.items()}
    # no-op when already small enough
    big = {r.asset_id: r for r in multimodal.resize_assets(assets, max_side=4096).collect()}
    assert all(r.dst_width == r.src_width and r.dst_height == r.src_height for r in big.values())


def test_streaming_stateful_conv_totals(spark, tmp_path):
    """applyInPandasWithState running counter: totals must accumulate
    ACROSS micro-batches (state store), and the final per-conversation
    value must equal the batch-mode mention count."""
    from datetime import datetime, timezone

    from arabicner_spark.operators import ner

    gaz = {"E": {("spark",), ("join",)}}
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [
        (f"c{i % 3}", i, "user", "spark does a join here", None, ts)
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    src = str(tmp_path / "stateful_src")
    # many small files -> maxFilesPerTrigger=4 forces several micro-batches
    df.repartition(12).write.parquet(src)

    totals = ingest.streaming_conv_totals(
        ingest.streaming_mentions(ingest.stream_transcripts(spark, src), gaz)
    )
    q = (
        totals.writeStream.format("memory")
        .queryName("t_conv_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT conv_id, max(total_mentions) AS n FROM t_conv_totals GROUP BY conv_id"
    ).collect()
    want = {
        r.conv_id: r.n
        for r in ner.extract_mentions(df, gaz)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.conv_id: r.n for r in got} == want and len(want) == 3
    # more update rows than convs proves multi-batch accumulation
    assert spark.sql("SELECT count(*) c FROM t_conv_totals").first().c > 3


def test_streaming_state_survives_restart(spark, tmp_path):
    """The state store must carry the counter across SEPARATE runs of
    the query (the production restart path, not just micro-batch
    boundaries): drain run 1, append new source files, drain run 2 with
    the SAME checkpoint dir — totals must cover both drops, and run 2
    must not recount run 1's data."""
    from datetime import datetime, timezone

    gaz = {"E": {("spark",)}}
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    out = str(tmp_path / "restart_out")

    def drop(turn0, n):
        # the memory sink cannot recover from a checkpoint; foreachBatch
        # -> parquet-append is the recoverable update-mode sink shape
        rows = [
            (f"c{i % 2}", turn0 + i, "user", "spark here", None, ts)
            for i in range(n)
        ]
        spark.createDataFrame(rows, schemas.TRANSCRIPTS).write.mode("append").parquet(src)
        totals = ingest.streaming_conv_totals(
            ingest.streaming_mentions(ingest.stream_transcripts(spark, src), gaz)
        )
        q = (
            totals.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            r.conv_id: r.n
            for r in spark.read.parquet(out)
            .groupBy("conv_id")
            .agg(F.max("total_mentions").alias("n"))
            .collect()
        }

    assert drop(0, 6) == {"c0": 3, "c1": 3}
    # 3+2 per conv: state restored from checkpoint, old files not replayed
    assert drop(100, 4) == {"c0": 5, "c1": 5}


def test_idempotent_sink_replay_safe(spark, tmp_path):
    """Replaying an epoch through idempotent_parquet_sink leaves the
    table unchanged; the same replay through a naive append sink
    duplicates the batch — the exact failure window the pattern
    closes."""
    import glob

    from arabicner_spark.streaming.ingest import idempotent_parquet_sink

    df = spark.range(100).selectExpr("id AS event_id", "id % 7 AS user_id")
    out = str(tmp_path / "idem")
    sink = idempotent_parquet_sink(out, ["event_id", "user_id"])
    sink(df, 0)
    sink(df.where("event_id >= 50"), 1)
    assert spark.read.parquet(f"{out}/__epoch=*").count() == 150
    # replay epoch 1 (at-least-once delivery) -> no change
    sink(df.where("event_id >= 50"), 1)
    assert spark.read.parquet(f"{out}/__epoch=*").count() == 150
    assert len(glob.glob(f"{out}/__epoch=*")) == 2

    # control: naive append duplicates the replayed batch
    naive = str(tmp_path / "naive")
    df.write.mode("append").parquet(naive)
    df.where("event_id >= 50").write.mode("append").parquet(naive)
    df.where("event_id >= 50").write.mode("append").parquet(naive)  # replay
    assert spark.read.parquet(naive).count() == 200  # 50 rows doubled
