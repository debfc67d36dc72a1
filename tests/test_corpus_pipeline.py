"""plans/corpus.run_corpus_pipeline: end-to-end determinism, stage
semantics, and resume-skip — the corpus-side counterpart of
tests/test_resume.py's KG coverage."""

import pytest
from pyspark.sql import functions as F

from arabicner_spark.plans.corpus import CorpusConfig, run_corpus_pipeline


@pytest.fixture()
def docs(spark):
    rows = []
    for i in range(120):
        base = " ".join(f"w{(i * 13 + j) % 40}" for j in range(12))
        if i % 10 == 7:
            base = rows[i - 7][1]  # exact dup of i-7
        if i % 17 == 3:
            base += " mail me at u@example.com or 12345"
        rows.append((i, base))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _run(spark, docs, tmp, run_id="c1", k=60):
    cfg = CorpusConfig(sample_k=k, chunk=64)
    return run_corpus_pipeline(spark, docs, cfg, str(tmp), run_id=run_id)


def test_corpus_pipeline_end_to_end(spark, docs, tmp_path):
    out = _run(spark, docs, tmp_path / "a")
    # scrub: PII classes fired and the scrubbed text carries tokens
    assert out["clean"].agg(F.sum("n_email")).first()[0] > 0
    assert out["clean"].where(F.col("scrubbed").contains("12345")).count() == 0
    # dedup: the planted exact dups are gone (survivor = min id)
    kept_ids = {r.doc_id for r in out["kept"].select("doc_id").collect()}
    assert all((i % 10 != 7) or (i - 7 not in kept_ids) or (i not in kept_ids)
               for i in range(120))
    assert len(kept_ids) < 120
    # sample: bounded by k and drawn from kept
    sampled = {r.doc_id for r in out["sampled"].collect()}
    assert sampled <= kept_ids and len(sampled) <= 60
    # split covers the sample, pack covers the train split contiguously
    splits = out["splits"]
    assert splits.count() == len(sampled)
    packed = out["packed"].orderBy("tok_start").collect()
    n_train = splits.where("split = 'train'").count()
    assert len(packed) == n_train
    for prev, cur in zip(packed, packed[1:]):
        assert cur.tok_start == prev.tok_start + prev.len  # gap-free


def test_corpus_pipeline_resume_skips_complete_stages(spark, docs, tmp_path):
    root = tmp_path / "b"
    a = _run(spark, docs, root)
    a_packed = sorted((r.doc_id, r.tok_start) for r in a["packed"].collect())
    # re-run with the same config + input: every stage manifest-skips,
    # and the outputs are identical
    b = _run(spark, docs, root, run_id="c2")
    b_packed = sorted((r.doc_id, r.tok_start) for r in b["packed"].collect())
    assert a_packed == b_packed
    import json, os

    manifests = os.path.join(str(root), "_manifests")
    stages = {json.load(open(os.path.join(manifests, f)))["run_id"]
              for f in os.listdir(manifests)}
    assert stages == {"c1"}  # nothing recomputed under run c2
