"""operators/bpe: the counting step of BPE training, top-k adjacent
character pairs over the word-frequency table."""

from arabicner_spark.operators import bpe


def test_char_pair_counts_tiebreak_and_weighting(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab cd"), (2, "ab cd cd")], "doc_id bigint, text string"
    )
    top = bpe.char_pair_counts(bpe.word_freqs(docs), k=2).collect()
    # 'ab' freq 3, 'cd' freq 3 -> tie broken by pair asc
    assert [(r.pair, r.n) for r in top] == [("ab", 3), ("cd", 3)]


def test_char_pair_counts_empty_and_one_char_words_yield_no_pairs(spark):
    # sequence(1, 0) is descending in Spark; an unguarded split would
    # give "a" the pairs "a" and "", and "" the pairs "" and ""
    df = spark.createDataFrame([("", 100), ("a", 50), ("ab", 3)], "word string, freq long")
    assert [(r.pair, r.n) for r in bpe.char_pair_counts(df, k=5).collect()] == [("ab", 3)]
