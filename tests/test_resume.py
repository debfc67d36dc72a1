"""Resume idempotency (north rule): kill after stage k, rerun, assert
byte-identical triple set and no duplicate lineage rows."""

import json
import os

import pytest

from arabicner_spark.plans.pipeline import PipelineConfig, run_pipeline
from arabicner_spark.sources import synth


@pytest.fixture()
def cfg():
    return PipelineConfig(
        gazetteer=synth.gazetteer_dict(), alias_rows=synth.make_alias_rows()
    )


def _edge_set(tables):
    return {
        (r.src, r.pred, r.dst, r.conv_id, r.turn_idx)
        for r in tables["edges"].collect()
    }


# stage -> the stage whose output is its primary input
PRIMARY_INPUT = {"triples": "mentions", "linking": "mentions", "edges": "triples", "nodes": "mentions"}


def _rows_in(metrics):
    """stage -> its rows_in (one value per stage, on every partition row)."""
    got = {}
    for r in metrics.select("stage", "rows_in").distinct().collect():
        assert r.stage not in got
        got[r.stage] = r.rows_in
    return got


def _rows_in_want(metrics, n_transcripts):
    out = {r.stage: r.n for r in metrics.groupBy("stage").agg({"rows_out": "sum"}).toDF("stage", "n").collect()}
    return {"mentions": n_transcripts, **{s: out[i] for s, i in PRIMARY_INPUT.items()}}


def test_full_run_then_resume_noop(spark, tmp_path, cfg):
    t = synth.transcripts_df(spark, n_convs=12, seed=42)
    root = str(tmp_path / "kg")
    first = _edge_set(run_pipeline(spark, t, cfg, root, run_id="r1", input_snapshot="s1"))
    assert first
    # metrics written once per stage
    metrics1 = spark.read.parquet(os.path.join(root, "_metrics"))
    stages1 = {r.stage for r in metrics1.select("stage").distinct().collect()}
    assert stages1 == {"mentions", "triples", "linking", "edges", "nodes"}
    n_metrics1 = metrics1.count()
    assert _rows_in(metrics1) == _rows_in_want(metrics1, t.count())

    # resume with same snapshot: all stages skip, outputs identical,
    # no duplicate lineage/metrics rows
    second = _edge_set(run_pipeline(spark, t, cfg, root, run_id="r2", input_snapshot="s1"))
    assert second == first
    assert spark.read.parquet(os.path.join(root, "_metrics")).count() == n_metrics1


def test_partial_failure_then_resume(spark, tmp_path, cfg):
    """Simulate a kill after the triples stage: downstream manifests
    absent -> only downstream stages re-run; triple set byte-identical
    to an uninterrupted run."""
    t = synth.transcripts_df(spark, n_convs=12, seed=42)
    clean_root = str(tmp_path / "clean")
    want = _edge_set(run_pipeline(spark, t, cfg, clean_root, run_id="w", input_snapshot="s1"))

    broken_root = str(tmp_path / "broken")
    run_pipeline(spark, t, cfg, broken_root, run_id="r1", input_snapshot="s1")
    # "kill": delete manifests + outputs of linking and later stages
    for stage in ("linking", "edges", "nodes"):
        os.remove(os.path.join(broken_root, "_manifests", f"{stage}.json"))
    got = _edge_set(run_pipeline(spark, t, cfg, broken_root, run_id="r2", input_snapshot="s1"))
    assert got == want
    # mentions/triples manifests still credit the first run
    m = json.load(open(os.path.join(broken_root, "_manifests", "mentions.json")))
    assert m["run_id"] == "r1"
    e = json.load(open(os.path.join(broken_root, "_manifests", "edges.json")))
    assert e["run_id"] == "r2"
    # metrics are last-writer-wins per stage (overwrite, not append):
    # the rerun of linking/edges/nodes must not leave duplicate rows
    metrics = spark.read.parquet(os.path.join(broken_root, "_metrics"))
    dup = metrics.groupBy("stage", "partition_id").count().where("count > 1").count()
    assert dup == 0
    edge_runs = {r.run_id for r in metrics.where("stage = 'edges'").collect()}
    assert edge_runs == {"r2"}
    # the rerun stages take rows_in from the skipped stages' manifests
    assert _rows_in(metrics) == _rows_in_want(metrics, t.count())


def test_input_change_invalidates_resume(spark, tmp_path, cfg):
    t = synth.transcripts_df(spark, n_convs=12, seed=42)
    root = str(tmp_path / "kg")
    run_pipeline(spark, t, cfg, root, run_id="r1", input_snapshot="s1")
    t2 = synth.transcripts_df(spark, n_convs=13, seed=43)
    tables = run_pipeline(spark, t2, cfg, root, run_id="r2", input_snapshot="s2")
    m = json.load(open(os.path.join(root, "_manifests", "mentions.json")))
    assert m["run_id"] == "r2"  # stage re-ran, not skipped
    assert tables["edges"].count() > 0


def test_digit_string_partition_reads_back_as_string(spark, tmp_path):
    """A stage partitioned by a string column whose values are all
    digits reads back as a string, on the run and on the resume skip;
    its ``_metrics`` rows are one per data file and add up to the
    table."""
    from pyspark.sql.types import StringType

    from arabicner_spark.plans.lineage import StageRunner
    from arabicner_spark.sources.io import TableIO, local_table

    root = str(tmp_path / "kg")
    rows = [("a", "2024"), ("b", "2024"), ("c", "0042")]
    df = local_table(spark, rows, "k string, type string")
    for run_id in ("r1", "r2"):  # r2 skips the stage and reads it back
        runner = StageRunner(TableIO(spark, root), run_id, "s1")
        out = runner.run("stage", "t", lambda: df, partition_by=["type"])
        assert out.columns == ["k", "type"]
        assert out.schema["type"].dataType == StringType()
        assert sorted((r.k, r.type) for r in out.collect()) == sorted(rows)
    metrics = spark.read.parquet(os.path.join(root, "_metrics"))
    files = TableIO(spark, root).data_files("t")
    assert len(files) >= 2  # one directory per type value
    assert metrics.count() == len(files)
    assert sorted(r.partition_id for r in metrics.collect()) == list(range(len(files)))
    assert sum(r.rows_out for r in metrics.collect()) == len(rows)
    assert {r.run_id for r in metrics.collect()} == {"r1"}


# Spark jobs one pipeline run over this input may take: 16 since
# linking maps a vocabulary-sized surface set on the driver (20 before;
# 47 before the metrics, read-back, linking and triples plans were
# trimmed)
PIPELINE_JOB_BUDGET = 16


def test_pipeline_job_budget(spark, tmp_path, cfg):
    """A later change cannot add Spark jobs to a pipeline run unnoticed."""
    t = synth.transcripts_df(spark, n_convs=12, seed=42)
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    sc.setJobGroup(group, "pipeline job budget")
    try:
        run_pipeline(spark, t, cfg, str(tmp_path / "kg"), run_id="r1", input_snapshot="s1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= PIPELINE_JOB_BUDGET


def test_kg_tables_have_the_declared_schemas(spark, tmp_path, cfg):
    """run_pipeline's triples, edges and nodes, read back from disk,
    carry the field names and types schemas.py declares (column order
    and nullability aside: partition columns read back last, and
    parquet reads every column as nullable)."""
    from arabicner_spark import schemas

    root = str(tmp_path / "kg")
    run_pipeline(spark, synth.transcripts_df(spark, n_convs=4, seed=1), cfg, root)
    for name, want in (("triples", schemas.TRIPLES), ("edges", schemas.EDGES), ("nodes", schemas.NODES)):
        got = spark.read.parquet(os.path.join(root, name)).schema
        assert {f.name: f.dataType for f in got} == {f.name: f.dataType for f in want}, name
