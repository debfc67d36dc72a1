"""Physical-plan regression guards: the properties PLANS.md documents,
asserted programmatically so an innocent-looking refactor can't
silently reintroduce a double-computed UDF stage or a pre-join shuffle.
"""

import contextlib
import io
import re

import pytest


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes_of(plan: str):
    """One entry per physical node, from the detail headers."""
    return re.findall(r"\n\(\d+\) (\w+)", plan)


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_ner_stage_runs_once_in_triples_plan(spark, sf_dir):
    from arabicner_spark.plans.testdata_queries import QUERIES

    plan = plan_of(QUERIES["kg_triples"][0](spark, sf_dir))
    nodes = nodes_of(plan)
    # the expensive Python stage must appear exactly once
    assert nodes.count("MapInPandas") == 1
    # pair generation is array-combinatorics, not a self-join
    assert "SortMergeJoin" not in nodes
    # the predicate table is a literal map lookup, not a join
    assert "BroadcastHashJoin" not in nodes


def test_mention_scan_has_no_prejoin_shuffle(spark, sf_dir):
    from arabicner_spark.plans.testdata_queries import QUERIES

    plan = plan_of(QUERIES["kg_mentions"][0](spark, sf_dir))
    nodes = nodes_of(plan)
    assert "Window" not in nodes
    # only the broadcast exchange for the gazetteer — no data shuffle
    exchanges = [n for n in nodes if n.endswith("Exchange")]
    assert exchanges and all(e == "BroadcastExchange" for e in exchanges), exchanges


def test_ner_column_pruning_reaches_scan(spark, sf_dir):
    from arabicner_spark.plans.testdata_queries import QUERIES

    plan = plan_of(QUERIES["kg_mentions_bio"][0](spark, sf_dir))
    # only doc_id + text may be read from the documents scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_ann_topk_rank_pushdown(spark, sf_dir):
    from arabicner_spark.plans.testdata_queries import QUERIES

    plan = plan_of(QUERIES["ann_topk"][0](spark, sf_dir))
    assert "WindowGroupLimit" in plan  # top-k never materializes full score set


def test_hot_conversation_spreads_across_partitions(spark):
    """Extreme skew: one conversation with 4000 turns must not land in
    one task — the (conv_id, turn_idx) repartition spreads its turns
    uniformly."""
    import pyspark.sql.functions as F

    from arabicner_spark import schemas
    from arabicner_spark.operators import ner
    from datetime import datetime, timezone

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [("hot", i, "user", "زار الأسد بيرزيت", None, ts) for i in range(4000)]
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    from arabicner_spark.sources import synth

    m = ner.extract_mentions(df, synth.gazetteer_dict(), salt_partitions=16)
    per_part = (
        m.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    )
    assert len(per_part) >= 8  # spread over many tasks, not one
    assert max(r["count"] for r in per_part) < 8000 * 0.5  # no single-task pileup


def _parquet_turns(spark, rows, path, n_files):
    from arabicner_spark import schemas

    spark.createDataFrame(rows, schemas.TRANSCRIPTS).repartition(n_files).write.parquet(path)
    src = spark.read.parquet(path)
    assert src.rdd.getNumPartitions() == n_files  # one split per small file
    return src


def _mention_rows(m):
    return sorted(tuple(r) for r in m.collect())


def test_ner_width_follows_input_bytes(spark, tmp_path, monkeypatch):
    """The Python stage's width gate on both sides: a small input under
    PY_TASK_BYTES runs one coalesced task with no shuffle; past it, an
    input with defaultParallelism files or more keeps its scan splits
    and a one-file input takes the full-key repartition; a caller's
    score_fn and an input without a size estimate keep full width; every
    case emits the oracle's mentions."""
    from arabicner_spark import oracle, schemas
    from arabicner_spark.functions import tagcore
    from arabicner_spark.operators import ner
    from arabicner_spark.sources import synth

    ner_turns = synth.make_transcript_rows(n_convs=30, seed=42)
    gaz = synth.gazetteer_dict()
    dp = spark.sparkContext.defaultParallelism
    want = oracle.oracle_mentions(ner_turns, gaz)
    split = _parquet_turns(spark, ner_turns, str(tmp_path / "split"), dp)
    one = _parquet_turns(spark, ner_turns, str(tmp_path / "one"), 1)

    def exchanges(m):
        return [n for n in nodes_of(plan_of(m)) if n.endswith("Exchange")]

    small = ner.extract_mentions(split, gaz)
    assert small.rdd.getNumPartitions() == 1
    assert "MapInPandas" in nodes_of(plan_of(small)) and exchanges(small) == []
    assert _mention_rows(small) == want

    model = ner.extract_mentions(split, gaz, score_fn=tagcore.score_turn)
    assert model.rdd.getNumPartitions() == dp and exchanges(model) == []
    assert _mention_rows(model) == want

    monkeypatch.setattr(ner, "PY_TASK_BYTES", 1)
    wide = ner.extract_mentions(split, gaz)
    assert wide.rdd.getNumPartitions() == dp
    assert _mention_rows(wide) == want
    # Spark packs small files into defaultParallelism splits unless told
    # to aim for more.
    spark.conf.set("spark.sql.files.minPartitionNum", dp + 2)
    try:
        many = _parquet_turns(spark, ner_turns, str(tmp_path / "many"), dp + 2)
        kept = ner.extract_mentions(many, gaz)
        assert kept.rdd.getNumPartitions() == dp + 2 and exchanges(kept) == []
        assert _mention_rows(kept) == want
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    spread = ner.extract_mentions(one, gaz)
    assert exchanges(spread) == ["Exchange"]
    assert spread.rdd.getNumPartitions() == dp
    assert _mention_rows(spread) == want

    monkeypatch.undo()
    no_estimate = spark.createDataFrame(spark.sparkContext.parallelize(ner_turns), schemas.TRANSCRIPTS)
    unknown = ner.extract_mentions(no_estimate, gaz)
    assert unknown.rdd.getNumPartitions() == no_estimate.rdd.getNumPartitions() == dp
    assert exchanges(unknown) == []
    assert _mention_rows(unknown) == want

    salted = ner.extract_mentions(split, gaz, salt_partitions=8)
    assert salted.rdd.getNumPartitions() == 8
    assert _mention_rows(salted) == want


def test_ner_frame_over_shuffled_input_runs_no_job(spark, tmp_path):
    """Building the NER frame over an adaptive (shuffled) input reads
    no split count, so it runs no Spark job; the Python stage then
    takes the full-key repartition and emits the oracle's mentions."""
    from arabicner_spark import oracle
    from arabicner_spark.operators import ner
    from arabicner_spark.sources import synth

    ner_turns = synth.make_transcript_rows(n_convs=30, seed=42)
    gaz = synth.gazetteer_dict()
    turns = _parquet_turns(spark, ner_turns, str(tmp_path / "turns"), 2)
    shuffled = turns.join(turns.groupBy("conv_id").count(), "conv_id")
    sc = spark.sparkContext
    sc.setJobGroup("ner-shuffled-build", "build the NER frame")
    try:
        m = ner.extract_mentions(shuffled, gaz)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ner-shuffled-build") == []
    assert _mention_rows(m) == oracle.oracle_mentions(ner_turns, gaz)


def test_r4_text_queries_are_python_free(spark, sf_dir):
    """text_repetition / text_urls / text_pii_scrub / text_subword_counts
    must stay whole-stage-codegen expression pipelines — no Python
    boundary anywhere in the hot path."""
    from arabicner_spark.plans.testdata_queries import QUERIES

    for name in (
        "text_repetition",
        "text_urls",
        "text_pii_scrub",
        "text_subword_counts",
    ):
        nodes = nodes_of(plan_of(QUERIES[name][0](spark, sf_dir)))
        assert "MapInPandas" not in nodes and "BatchEvalPython" not in nodes, name
        assert "ArrowEvalPython" not in nodes, name


def test_mm_resize_prunes_scan_to_payload_cols(spark, sf_dir):
    """The resize operator's Arrow boundary must see only the three
    asset columns; lang/source/n_chars must be pruned at the scan."""
    from arabicner_spark.plans.testdata_queries import QUERIES

    plan = plan_of(QUERIES["mm_resize"][0](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"doc_id", "text"}, read_cols


def test_pin_width_respects_shuffle_partitions(spark):
    """r3 ADVICE item 5: the explicit width pin must never be NARROWER
    than the configured shuffle width — it replaces the AQE-sized
    exchange, so a bare-defaultParallelism pin would cap compute-bound
    stages at core count on arbitrarily large inputs."""
    from arabicner_spark.plans.testdata_queries import pin_width

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "400")
        assert pin_width(spark) == 400
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert pin_width(spark) == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_width_pins_follow_the_session(spark):
    """Every operator with a width pin reads it from its input's
    session (io.pin_width): with the shuffle width set to 12, each runs
    a stage of 12 tasks, the tasks of its pinned exchange (no other
    stage here has 12).  Run under a job group, since dedup_decision
    and pack_sequences execute their pinned exchange while building."""
    from pyspark.sql import functions as F

    from arabicner_spark import schemas
    from arabicner_spark.functions import hashing
    from arabicner_spark.operators import triples
    from arabicner_spark.operators.incremental import dedup_decision
    from arabicner_spark.operators.pack import pack_sequences
    from arabicner_spark.operators.repeated import repeated_substring_cuts
    from arabicner_spark.sources.io import local_table

    sc = spark.sparkContext
    texts = [f"w{i % 7} w{i % 5} w{i % 3} common run of words here" for i in range(40)]
    docs = local_table(spark, [(str(i), t) for i, t in enumerate(texts)], "id string, text string")
    mentions = local_table(
        spark,
        [(f"c{i}", 0, 0, t, s, s + 1, f"x{i}") for i in range(20) for t, s in (("PERS", 0), ("ORG", 2))],
        schemas.MENTIONS,
    )
    vecs = local_table(spark, [(i, [1.0, float(i % 3)]) for i in range(30)], "vec_id long, v array<double>")
    built = {
        # as the stream micro-batch calls it: no width anywhere
        "extract_triples": lambda: triples.extract_triples(mentions),
        "dedup_decision": lambda: dedup_decision(docs),
        "repeated_substring_cuts": lambda: repeated_substring_cuts(
            docs.withColumnRenamed("id", "doc_id"), k=3
        ),
        "shingle_hash_table": lambda: hashing.shingle_hash_table(docs),
        "cosine_bucket_verify": lambda: hashing.cosine_bucket_verify(
            vecs.select("vec_id", (F.col("vec_id") % 4).alias("bkey")), vecs
        ),
        "pack_sequences": lambda: pack_sequences(
            docs.select(F.col("id").cast("long").alias("doc_id"), F.length("text").alias("n")),
            "doc_id", "n", chunk=16,
        ),
    }
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "12")
    try:
        for name, build in built.items():
            sc.setJobGroup(f"pin-{name}", name)
            build().write.format("noop").mode("overwrite").save()
            tracker = sc.statusTracker()
            tasks = [
                tracker.getStageInfo(sid).numTasks
                for jid in tracker.getJobIdsForGroup(f"pin-{name}")
                for sid in tracker.getJobInfo(jid).stageIds
                if tracker.getStageInfo(sid)
            ]
            assert 12 in tasks, (name, tasks)
    finally:
        sc.setJobGroup("", "")
        spark.conf.set(key, saved)


def test_r5_queries_plan_shapes(spark, sf_dir):
    """Round-5 operators stay on the fast path: BPE pair counting and
    mixture sampling are Python-free (pure codegen + one agg /
    broadcast join), the BPE top-k is a TakeOrderedAndProject (never a
    global sort), mixture's rate join broadcasts (never a shuffle of
    the doc side against 3 rate rows), and no r5 query plans a
    cartesian/BNLJ."""
    from arabicner_spark.operators import bpe
    from arabicner_spark.plans.testdata_queries import QUERIES

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pc_plan = plan_of(bpe.char_pair_counts(bpe.word_freqs(d), k=20))
    assert "TakeOrderedAndProject" in pc_plan
    assert "PythonUDF" not in pc_plan and "ArrowEval" not in pc_plan

    mix_plan = plan_of(QUERIES["sample_mixture"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in mix_plan
    assert "PythonUDF" not in mix_plan
    for name in ("bpe_pair_counts", "sample_mixture", "snapshot_time_travel"):
        p = plan_of(QUERIES[name][0](spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_label_propagation_rounds_use_agg_not_window(spark):
    """The LPA arg-max must plan as a max_by HashAggregate (map-side
    combinable), not a per-node Window sort — the difference between a
    shuffle of (node,label,count) partials and a full sort of the vote
    table at 100 TB."""
    from pyspark.sql import functions as F

    from arabicner_spark.operators.graph import _lpa_round, undirected_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    und = undirected_edges(edges)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("peer")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").cast("long").alias("label")
    )
    p = plan_of(_lpa_round(adj, labels))
    assert "Window" not in nodes_of(p)
    assert "max_by" in p


def test_r6_new_queries_plan_shapes(spark, sf_dir):
    """Round-6 additions keep the 100-TB-safe shapes: PQ search and
    the Bloom probe are broadcast-join-only (no cartesian, no BNLJ,
    no sort-merge — the fact side is never shuffled to evaluate the
    filter), and the z-order stats are pure aggregation (no joins at
    all).  negative_samples is allowed exactly ONE one-row
    BroadcastNestedLoopJoin: the entity-count scalar crossJoin, the
    same documented pattern as the sketch family's one-row bounds."""
    from arabicner_spark.plans.testdata_queries import QUERIES

    p = plan_of(QUERIES["rel_bloom_prejoin"][0](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p

    # r7: ann_pq's search is a MapInArrow pass over the vector table
    # (codes + ADC per batch against a broadcast codebook) + one per-q
    # WindowGroupLimit — no join of ANY kind touches the candidates
    p = plan_of(QUERIES["ann_pq"][0](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "MapInArrow" in p
    assert "WindowGroupLimit" in p

    p = plan_of(QUERIES["layout_zorder"][0](spark, sf_dir))
    assert "Join" not in p
    assert "PythonUDF" not in p

    p = plan_of(QUERIES["kg_negative_samples"][0](spark, sf_dir))
    assert "CartesianProduct" not in p
    # one physical node = two mentions in formatted explain (tree +
    # details), so ONE allowed BNLJ counts as <= 2 here
    assert p.count("BroadcastNestedLoopJoin") <= 2
