"""operators/pack.pack_sequences: the two-pass distributed prefix sum
must be invariant to its width (the session's shuffle width, through
io.pin_width), match a driver-side serial scan, and place
boundary-straddling documents correctly."""

from pyspark.sql import functions as F

from arabicner_spark.operators.pack import pack_sequences


def _serial(rows, chunk):
    out, off = {}, 0
    for did, ln in sorted(rows):
        last = off + max(ln - 1, 0)
        out[did] = (ln, off, off // chunk, last // chunk, off % chunk)
        off += ln
    return out


def _got(df):
    return {
        r.doc_id: (r.len, r.tok_start, r.chunk_start, r.chunk_end, r.offset_in_chunk)
        for r in df.collect()
    }


def test_pack_matches_serial_and_width_invariant(spark):
    rows = [(i, (i * 37) % 900 + 1) for i in range(300)] + [(1000, 0)]  # incl. zero-len
    df = spark.createDataFrame(rows, "doc_id bigint, n long")
    want = _serial(rows, 128)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        # every width the operator can run at: at or above the session's
        # parallelism
        for w in (8, 16, 37):
            spark.conf.set(key, str(w))
            got = _got(pack_sequences(df, "doc_id", "n", chunk=128))
            assert got == want, f"width={w}"
    finally:
        spark.conf.set(key, saved)


def test_pack_straddling_doc_spans_chunks(spark):
    # doc 2 starts at offset 100 with len 400 -> tokens 100..499 ->
    # chunks 0..3 with chunk size 128
    df = spark.createDataFrame([(1, 100), (2, 400), (3, 5)], "doc_id bigint, n long")
    got = _got(pack_sequences(df, "doc_id", "n", chunk=128))
    assert got[2] == (400, 100, 0, 3, 100)
    assert got[3] == (5, 500, 3, 3, 500 % 128)


def test_pack_no_global_single_partition_window(spark):
    """The scale property itself: no Window without partitionBy (which
    would plan a one-task global sort) anywhere in the physical plan."""
    df = spark.createDataFrame([(i, 10) for i in range(50)], "doc_id bigint, n long")
    plan = (
        pack_sequences(df, "doc_id", "n", chunk=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for mwin in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "pid" in mwin.group(1), plan  # every Window is per-partition
