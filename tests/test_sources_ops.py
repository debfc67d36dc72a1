"""Distributed CoNLL reader, vocab builders, process.py equivalents,
metrics joins, predictions sink — SURVEY section 2.A items 1-6, 17, 20."""

import glob
import os

import pyspark.sql.functions as F
import pytest

from arabicner_spark.operators import metrics, vocab
from arabicner_spark.sources import conll, conll_spark, predictions, process

VAL = "/root/reference/data/val.txt"
# self-authored Wojood-format segments: multi-label tokens nested up to
# four deep (OCC > FAC > ORG > GPE), B-X/I-X/O heads, one untagged token
FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "nested_multilabel.txt")


def _spark_parse_matches_python(spark, path):
    want = conll.parse_conll(path)
    got = conll_spark.conll_segments(spark, path).orderBy("seg_id").collect()
    assert len(got) == len(want)
    for row, seg in zip(got, want):
        assert [t.token for t in row.tokens] == [tok for tok, _ in seg]
        assert [list(t.tags) for t in row.tokens] == [tags for _, tags in seg]
    return want


def test_conll_spark_equals_python_parser(spark):
    segs = _spark_parse_matches_python(spark, FIXTURE)
    assert len(segs) == 6
    assert max(len(tags) for seg in segs for _tok, tags in seg) == 4


@pytest.mark.skipif(not os.path.exists(VAL), reason="reference fixtures unavailable")
def test_conll_spark_equals_python_parser_on_wojood_val(spark):
    assert len(_spark_parse_matches_python(spark, VAL)) == 158


def test_token_vocab_first_appearance_order(spark):
    """Reference: Vocab.itos = Counter insertion order = first
    appearance in the corpus stream (arabiner/utils/data.py:12-25)."""
    segs = conll.parse_conll(FIXTURE)
    seen, want_order = set(), []
    for seg in segs:
        for tok, _ in seg:
            if tok not in seen:
                seen.add(tok)
                want_order.append(tok)
    toks = conll_spark.read_conll(spark, FIXTURE).select(
        "token", (F.col("seg_id") * 1_000_000 + F.col("pos")).alias("gpos")
    )
    got = vocab.first_appearance_vocab(toks, "token", "gpos").orderBy("id").collect()
    assert [r.item for r in got] == want_order
    # counts agree with a plain Counter (the fixture repeats tokens)
    from collections import Counter

    c = Counter(tok for seg in segs for tok, _ in seg)
    assert max(c.values()) > 1
    assert all(c[r.item] == r["count"] for r in got)


def test_process_tsv_pipeline(spark, tmp_path):
    tsv = tmp_path / "raw.tsv"
    rows = [
        "idx\tsent\tx\ttok\tlabels",
        "0\ts1\t_\tمرحبا\tO",
        "1\ts1\t_\tبيرزيت\tB-GPE",
        "2\ts1\t_\t\tB-GPE",          # empty token -> dropped
        "3\ts1\t_\tbad tok\tO",        # multi-word token -> dropped
        "4\ts1\t_\tx\tBADLABEL",       # invalid label -> dropped
        "5\ts2\t_\tالأسد\tB-PERS I-ORG",
        "6\ts2\t_\tقال\tO",
    ]
    tsv.write_text("\n".join(rows), encoding="utf-8")
    df = process.clean_rows(process.read_wojood_tsv(spark, str(tsv)))
    segs = process.to_segments(df).orderBy("seg_id").collect()
    assert len(segs) == 2
    assert [t.token for t in segs[0].tokens] == ["مرحبا", "بيرزيت"]
    assert [list(t.labels) for t in segs[1].tokens] == [["B-PERS", "I-ORG"], ["O"]]


def test_span_prf_and_per_type_report(spark):
    cols = "conv_id string, turn_idx int, level int, type string, start_tok int, end_tok int"
    gold = spark.createDataFrame(
        [("c", 0, 0, "GPE", 0, 1), ("c", 0, 1, "ORG", 2, 4), ("c", 1, 0, "GPE", 5, 6)], cols
    )
    pred = spark.createDataFrame(
        [("c", 0, 0, "GPE", 0, 1), ("c", 0, 1, "ORG", 2, 3), ("c", 1, 0, "GPE", 5, 6)], cols
    )
    m = metrics.span_prf(gold, pred)
    assert m.tp == 2 and m.n_gold == 3 and m.n_pred == 3
    assert abs(m.f1 - 2 / 3) < 1e-9
    rep = {r.type: r for r in metrics.per_type_report(gold, pred).collect()}
    assert rep["GPE"].f1 == 1.0 and rep["ORG"].tp == 0


def test_predictions_sink_format(spark, tmp_path):
    toks = spark.createDataFrame(
        [
            (0, 0, "روسيا", ["B-ORG"], ["B-ORG"]),
            (0, 1, "الأسد", ["I-ORG", "B-PERS"], ["I-ORG"]),
            (1, 0, "قال", ["O"], None),
        ],
        "seg_id long, pos int, token string, gold_tags array<string>, pred_tags array<string>",
    )
    out = tmp_path / "preds"
    predictions.write_predictions(toks, str(out))
    text = open(glob.glob(str(out / "part-*"))[0], encoding="utf-8").read()
    assert text == (
        "روسيا\tB-ORG\tB-ORG\n"
        "الأسد\tI-ORG|B-PERS\tI-ORG\n"
        "\n"
        "قال\tO\t\n"
        "\n"
    )


def test_triple_prf_matches_oracle_scorer(spark):
    from arabicner_spark import oracle
    from arabicner_spark.operators import ner, triples as trop
    from arabicner_spark.sources import synth

    rows = synth.make_transcript_rows(n_convs=10, seed=3)
    df = synth.transcripts_df(spark, n_convs=10, seed=3)
    gaz = synth.gazetteer_dict()
    pred_df = trop.extract_triples(ner.extract_mentions(df, gaz))
    want = oracle.oracle_triples(oracle.oracle_mentions(rows, gaz))
    gold_df = spark.createDataFrame(want, pred_df.schema)
    m = metrics.triple_prf(gold_df, pred_df)
    assert m.precision == 1.0 and m.recall == 1.0


def test_conll_spark_multi_split_dense_seg_ids(spark, tmp_path):
    """The two-phase seg-id prefix sum must survive a file read as MANY
    input splits, including segments straddling split boundaries and
    consecutive blank lines (empty segments the reference's parser
    never materializes)."""
    import random

    rng = random.Random(7)
    lines, want = [], []
    for s in range(4000):
        seg = [f"tok{s}_{i} B-X" for i in range(rng.randint(1, 6))]
        want.append([l.split()[0] for l in seg])
        lines.extend(seg)
        lines.append("")
        if rng.random() < 0.1:
            lines.append("")  # consecutive blank -> empty segment
    path = tmp_path / "big.txt"
    path.write_text("\n".join(lines), encoding="utf-8")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        got = conll_spark.read_conll(spark, str(path))
        rows = got.orderBy("seg_id", "pos").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    by_seg = {}
    for r in rows:
        by_seg.setdefault(r.seg_id, []).append((r.pos, r.token))
    assert sorted(by_seg) == list(range(len(want)))  # dense, 0-based
    for sid, toks in enumerate(want):
        assert [t for _p, t in sorted(by_seg[sid])] == toks
