"""The local correctness-gate comparator must be TYPE-strict.

Round 4's only driver red (`rel_gap_fill`) was an oracle whose uncast
DuckDB ``sum(BIGINT)`` returned HUGEINT (int128) while Spark emitted
BIGINT — values identical, types different — and the old ``canon()``
coerced ints to floats, so the local gate said MATCH while the driver's
type-sensitive value hash said FAIL.  These tests seed exactly that
regression and assert the hardened comparator catches it, plus pin the
edge-case fixes that rode along this round (short-doc repetition
chunking, id-dtype-preserving subword counts).
"""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

# imported the way perfbench/checks.py imports it
from tools import check_correctness as cc


def test_seeded_hugeint_regression_is_caught(spark):
    """An uncast DuckDB sum reaching an output column must produce a
    type diff against Spark's BIGINT even though every value matches."""
    con = duckdb.connect()
    res = con.sql("SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)")
    atab = res.arrow()
    dtypes = [cc.arrow_type_label(f.type) for f in atab.schema]

    sdf = spark.range(1, 3).agg(F.sum("id").alias("s"))
    stypes = [cc.spark_type_label(f.dataType) for f in sdf.schema.fields]

    diffs = cc.type_labels_match(["s"], stypes, ["s"], dtypes)
    assert diffs == {"s": ("int64", dtypes[0])}
    assert dtypes[0] != "int64"  # HUGEINT surfaces as decimal128, not int64

    # and the repo's portability rule (explicit BIGINT cast) clears it
    res2 = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)")
    dtypes2 = [cc.arrow_type_label(f.type) for f in res2.arrow().schema]
    assert cc.type_labels_match(["s"], stypes, ["s"], dtypes2) == {}


def test_type_labels_cover_common_shapes(spark):
    con = duckdb.connect()
    res = con.sql(
        "SELECT 1::INTEGER AS i, 1::BIGINT AS l, 1.5::DOUBLE AS d, "
        "'x' AS s, true AS b, [1::BIGINT, 2] AS arr"
    )
    labels = [cc.arrow_type_label(f.type) for f in res.arrow().schema]
    assert labels == ["int32", "int64", "float64", "str", "bool", "list<int64>"]

    sdf = spark.sql(
        "SELECT CAST(1 AS INT) i, CAST(1 AS BIGINT) l, CAST(1.5 AS DOUBLE) d, "
        "'x' s, true b, array(CAST(1 AS BIGINT), 2) arr"
    )
    slabels = [cc.spark_type_label(f.dataType) for f in sdf.schema.fields]
    assert slabels == labels


@pytest.fixture()
def short_doc_dir(tmp_path):
    """A documents table containing an under-REP_CHUNK doc — the case
    where Spark's sequence(1, 0) is descending while DuckDB's
    generate_series(1, 0) is empty."""
    tab = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": pa.array(
                ["tiny doc", "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"]
            ),
        }
    )
    pq.write_table(tab, tmp_path / "documents.parquet")
    return str(tmp_path)


def test_text_repetition_short_doc_parity(spark, short_doc_dir):
    from arabicner_spark.plans.testdata_queries import (
        SQL_TEXT_REPETITION,
        q_text_repetition,
    )

    df = q_text_repetition(spark, short_doc_dir)
    srows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{short_doc_dir}/documents.parquet'"
    )
    drows = con.sql(SQL_TEXT_REPETITION).fetchall()
    assert cc.rowset(df.columns, srows) == cc.rowset(df.columns, drows)
    # the short doc chunks to nothing in BOTH engines (no spurious
    # partial/empty chunks from a descending sequence)
    assert {r[0] for r in srows} == {2}


def test_subword_counts_preserves_string_ids(spark):
    from arabicner_spark.operators.tokencount import (
        subword_counts,
        subword_counts_expr,
    )

    df = spark.createDataFrame(
        [("docA", "hello world"), ("docB", "one two three")], "id string, text string"
    )
    a = subword_counts(df, "id", "text")
    b = subword_counts_expr(df, "id", "text")
    assert a.schema["id"].dataType == b.schema["id"].dataType
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
