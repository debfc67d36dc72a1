"""Guards for the query registry's shared plumbing: the oracle SQL texts,
the Spark job counts of the KG queries the benchmark runs, of the
document dedup family and of the embedding family, and the temp-dir
cleanup of the streaming drain and the file-backed gate queries."""

import hashlib
import tempfile

import pytest

SF_DIR = "/root/testdata/sf0.001"

# sha256 of every (name, oracle SQL) pair of the registry, sorted by name
ORACLE_SQL_SHA256 = "b25bd544e2a18b890ff488892da7c73b10e910dc17a585ec8aa312ab36c874da"

# Spark jobs one query takes at sf0.001 on the test session, collecting
# its result included.  These queries are the KG half of the
# registry_sf0.01 benchmark workload, whose cost is per-job overhead,
# so a change to the KG prefix or the seed code must not add jobs.
KG_JOB_BUDGET = {
    "kg_edges": 4,
    "kg_pagerank_personalized": 9,
    "kg_temporal_reach": 11,
}

# The same count for the document near-dup family, which shares one
# chain (operators/incremental.py).  bench.py's headline runs
# kg_components, dedup_minhash_lsh and dedup_jaccard; corpus_pipeline
# reads only the keep decision, so it materializes no dedup state.
DEDUP_JOB_BUDGET = {
    "kg_components": 11,
    "dedup_survivors": 11,
    "dedup_minhash_lsh": 6,
    "dedup_jaccard": 12,
    "dedup_incremental": 29,
    "corpus_pipeline": 27,
}


# The same count for the embedding family: the ANN queries share one
# cosine, top-k and IVF search, and dedup_embedding verifies with one
# Arrow kernel.
VECTOR_JOB_BUDGET = {
    "ann_topk": 4,
    "ann_lsh_bucketed": 4,
    "ann_ivf": 21,
    "ann_recall": 34,
    "dedup_embedding": 5,
}


def test_oracle_sql_texts_are_pinned():
    from arabicner_spark.plans.testdata_queries import QUERIES

    pairs = sorted((name, sql) for name, (_fn, sql) in QUERIES.items())
    digest = hashlib.sha256(repr(pairs).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256, (
        "an oracle SQL text changed. Oracle text changes only with a "
        "deliberate semantic change that the change states in CHANGES.md "
        "(ROADMAP aim 3); update ORACLE_SQL_SHA256 in that same change"
    )


def _assert_job_budget(spark, budgets):
    from arabicner_spark.plans.testdata_queries import QUERIES

    sc = spark.sparkContext
    for name, budget in budgets.items():
        group = f"job-budget-{name}"
        sc.setJobGroup(group, "job budget")
        try:
            QUERIES[name][0](spark, SF_DIR).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < jobs <= budget, (name, jobs)


def test_kg_query_job_budget(spark):
    _assert_job_budget(spark, KG_JOB_BUDGET)


def test_dedup_query_job_budget(spark):
    _assert_job_budget(spark, DEDUP_JOB_BUDGET)


def test_vector_query_job_budget(spark):
    _assert_job_budget(spark, VECTOR_JOB_BUDGET)


def _tables(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_stream_drain_drops_its_memory_sink_view(spark, tmp_path, monkeypatch):
    """A memory sink keeps its rows on the driver under a temp view for
    the session's life unless the view is dropped."""
    from arabicner_spark.plans.testdata_queries import q_stream_dedup

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _tables(spark)
    assert q_stream_dedup(spark, SF_DIR).count() > 0
    assert _tables(spark) == before
    assert list(tmp_path.iterdir()) == []


def test_stream_drain_cleans_up_after_a_failed_stream(spark, tmp_path, monkeypatch):
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from arabicner_spark.plans.testdata_queries import _drain

    def failing(src):
        rows = spark.readStream.schema("id bigint").parquet(src)
        return rows.select(F.assert_true(F.col("id") < 0).alias("ok"))

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _tables(spark)
    with pytest.raises(StreamingQueryException):
        _drain(spark, spark.range(3), failing, lambda rows: rows)
    assert _tables(spark) == before
    assert list(tmp_path.iterdir()) == []


def test_failed_gate_query_removes_its_temp_dirs(spark, tmp_path, monkeypatch):
    """A file-backed gate query deletes its temp dirs when it raises
    half-way, not only after a successful checkpoint."""
    from arabicner_spark.plans.testdata_queries import q_conll_roundtrip
    from arabicner_spark.sources import conll_spark

    def broken_read_conll(spark, path):
        raise RuntimeError("read failed")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(conll_spark, "read_conll", broken_read_conll)
    with pytest.raises(RuntimeError, match="read failed"):
        q_conll_roundtrip(spark, SF_DIR)
    assert list(tmp_path.iterdir()) == []
