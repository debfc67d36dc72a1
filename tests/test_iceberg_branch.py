"""Iceberg branch of TableIO, exercised against a mocked catalog.

The sandbox ships no Iceberg runtime jars, so the V2 writer path
(``writeTo(...).using("iceberg").partitionedBy(...).createOrReplace()``)
can't run for real — but a signature typo or a wrong table identifier
must not be able to hide in the untested branch.  These tests pin the
exact call sequence with mocks; the parquet facade (same TableIO
surface) is integration-tested elsewhere (tests/test_resume.py).
"""

from unittest.mock import MagicMock

from arabicner_spark.sources.io import TableIO, iceberg_available, parquet_fingerprint


def _fluent_writer():
    """A writeTo-style mock where every fluent call returns the mock."""
    w = MagicMock()
    w.using.return_value = w
    w.partitionedBy.return_value = w
    return w


def test_iceberg_write_call_sequence(spark):
    df = MagicMock()
    w = _fluent_writer()
    df.writeTo.return_value = w
    io = TableIO(spark=MagicMock(), root="kg.prod", mode="iceberg")

    io.write(df, "edges", partition_by=["pred"])

    df.writeTo.assert_called_once_with("kg.prod.edges")
    w.using.assert_called_once_with("iceberg")
    assert w.partitionedBy.call_count == 1
    # partition columns are Column objects over the requested names
    (col_arg,), _ = w.partitionedBy.call_args
    assert "pred" in str(col_arg)
    w.createOrReplace.assert_called_once_with()


def test_iceberg_write_unpartitioned_skips_partitionedBy():
    df = MagicMock()
    w = _fluent_writer()
    df.writeTo.return_value = w
    io = TableIO(spark=MagicMock(), root="kg.prod", mode="iceberg")

    io.write(df, "nodes")

    w.partitionedBy.assert_not_called()
    w.createOrReplace.assert_called_once_with()


def test_iceberg_read_and_exists_identifiers():
    sp = MagicMock()
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    io.read("mentions")
    sp.read.table.assert_called_once_with("kg.prod.mentions")
    sp.catalog.tableExists.return_value = True
    assert io.exists("mentions") is True
    sp.catalog.tableExists.assert_called_once_with("kg.prod.mentions")


def _file_rows(*pairs):
    rows = []
    for path, n in pairs:
        r = MagicMock()
        r.file_path, r.record_count = path, n
        rows.append(r)
    return rows


def test_iceberg_data_files_from_files_metadata_table():
    """Per-file row counts come from the table's ``files`` metadata
    table, in path order; the parquet-mode schema never reaches the
    Iceberg read."""
    from pyspark.sql.types import StringType, StructField, StructType

    sp = MagicMock()
    sp.sql.return_value.collect.return_value = _file_rows(("s3://w/b.parquet", 4), ("s3://w/a.parquet", 3))
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    assert io.data_files("edges") == [("s3://w/a.parquet", 3), ("s3://w/b.parquet", 4)]
    (sql_arg,), _ = sp.sql.call_args
    assert "FROM kg.prod.edges.files" in sql_arg
    assert "record_count" in sql_arg
    io.read("edges", StructType([StructField("src", StringType())]))
    sp.read.table.assert_called_once_with("kg.prod.edges")
    sp.read.schema.assert_not_called()


def test_iceberg_stage_metrics_from_files_metadata_table(spark, tmp_path):
    """StageRunner on the Iceberg facade: one ``_metrics`` row per data
    file with the file's record_count, and the manifest's rows_out is
    their sum; no Spark job builds the metrics."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StringType, StructField, StructType

    from arabicner_spark.plans.lineage import StageRunner

    sp = MagicMock()
    sp.sql.return_value.collect.return_value = _file_rows(("w/p=x/1.parquet", 5), ("w/p=y/2.parquet", 2))
    root = str(tmp_path / "kg")
    df = MagicMock()
    df.schema = StructType([StructField("p", StringType()), StructField("v", StringType())])
    w = _fluent_writer()
    df.writeTo.return_value = w
    runner = StageRunner(TableIO(spark=sp, root=root, mode="iceberg"), "r1", "s1")

    runner.run("edges", "edges", lambda: df, partition_by=["p"], count_as_triples=True)

    df.writeTo.assert_called_once_with(f"{root}.edges")
    w.createOrReplace.assert_called_once_with()
    sp.read.table.assert_called_once_with(f"{root}.edges")
    got = pq.read_table(os.path.join(root, "_metrics", "stage=edges")).to_pylist()
    assert [(r["partition_id"], r["rows_out"], r["triples"], r["run_id"]) for r in got] == [
        (0, 5, 5, "r1"),
        (1, 2, 2, "r1"),
    ]
    manifest = json.load(open(os.path.join(root, "_manifests", "edges.json")))
    assert manifest["rows_out"] == 7
    # data columns, then partition columns
    assert [f["name"] for f in manifest["schema"]["fields"]] == ["v", "p"]


def test_iceberg_snapshot_id_queries_snapshots_table():
    """The resume rule's snapshot identity on the iceberg branch: the
    latest snapshot_id from the table's .snapshots metadata table."""
    sp = MagicMock()
    row = MagicMock()
    row.snapshot_id = 7812930412
    sp.sql.return_value.first.return_value = row
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    assert io.snapshot_id("edges") == "7812930412"
    (sql_arg,), _ = sp.sql.call_args
    assert "kg.prod.edges.snapshots" in sql_arg
    assert "ORDER BY committed_at DESC" in sql_arg
    # empty table (no snapshots yet) -> empty identity, never a crash
    sp.sql.return_value.first.return_value = None
    assert io.snapshot_id("edges") == ""


def test_parquet_snapshot_id_changes_on_rewrite(spark, tmp_path):
    """The parquet facade's snapshot identity: stable across re-reads,
    different after ANY rewrite (fresh part-file UUIDs)."""
    io = TableIO(spark=spark, root=str(tmp_path), mode="parquet")
    df = spark.range(100).toDF("n")
    io.write(df, "t")
    s1 = io.snapshot_id("t")
    assert s1 == io.snapshot_id("t")  # deterministic re-read
    io.write(df, "t")  # same CONTENT, new materialization
    s2 = io.snapshot_id("t")
    assert s1 != s2
    # and the standalone fingerprint matches the facade's
    assert s2 == parquet_fingerprint(str(tmp_path / "t"))


def _snapshot_mock_spark(existing_tags, latest_snapshot_id=991122):
    """A MagicMock session whose sql() answers the three metadata
    queries the snapshot facade issues: .snapshots latest-id, .refs tag
    listing, and DDL (CREATE/DROP TAG) as a no-op."""
    sp = MagicMock()

    def fake_sql(q):
        res = MagicMock()
        if ".snapshots" in q:
            row = MagicMock()
            row.snapshot_id = latest_snapshot_id
            res.first.return_value = row
        elif ".refs" in q and "name = 'main'" in q:
            # r7 (ADVICE r6): the committed snapshot is resolved from
            # the main branch ref, not wall-clock snapshot ordering
            row = MagicMock()
            row.snapshot_id = latest_snapshot_id
            res.first.return_value = row
        elif ".refs" in q:
            rows = []
            for t in existing_tags:
                r = MagicMock()
                r.name = t
                rows.append(r)
            res.collect.return_value = rows
        return res

    sp.sql.side_effect = fake_sql
    return sp


def test_iceberg_write_snapshot_first_commit_creates_and_tags(spark):
    """First commit: createOrReplace + CREATE TAG v1 pinned to the
    snapshot_id the commit produced (never a positional ordinal)."""
    sp = _snapshot_mock_spark(existing_tags=[], latest_snapshot_id=424242)
    sp.catalog.tableExists.return_value = False
    df = MagicMock()
    w = _fluent_writer()
    df.writeTo.return_value = w
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")

    assert io.write_snapshot(df, "docs") == 1

    w.createOrReplace.assert_called_once_with()
    w.overwrite.assert_not_called()
    ddl = [c.args[0] for c in sp.sql.call_args_list if "CREATE TAG" in c.args[0]]
    assert len(ddl) == 1
    assert "ALTER TABLE kg.prod.docs CREATE TAG `v1` AS OF VERSION 424242" in ddl[0]


def test_iceberg_write_snapshot_later_commit_overwrites_not_replaces(spark):
    """Later commits must be row overwrites (new snapshot on the SAME
    table) — createOrReplace would reset schema/spec and orphan the
    snapshot history — and the new tag continues the v<N> sequence."""
    sp = _snapshot_mock_spark(existing_tags=["v1", "v2", "main"])
    sp.catalog.tableExists.return_value = True
    df = MagicMock()
    w = _fluent_writer()
    w.overwrite.return_value = None
    df.writeTo.return_value = w
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")

    assert io.write_snapshot(df, "docs") == 3

    w.createOrReplace.assert_not_called()
    assert w.overwrite.call_count == 1
    ddl = [c.args[0] for c in sp.sql.call_args_list if "CREATE TAG" in c.args[0]]
    assert "CREATE TAG `v3`" in ddl[0]


def test_iceberg_snapshot_versions_reads_tags_not_ordinals():
    """Version list = the v<N> tags from .refs; non-version refs
    (main, user tags) are ignored."""
    sp = _snapshot_mock_spark(existing_tags=["main", "v2", "v1", "release-x"])
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    assert io.snapshot_versions("docs") == [1, 2]
    (q,), _ = sp.sql.call_args
    assert "kg.prod.docs.refs" in q and "TAG" in q


def test_iceberg_read_snapshot_uses_tag_ref():
    sp = _snapshot_mock_spark(existing_tags=["v1", "v2"])
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    io.read_snapshot("docs", version=1)
    sp.read.option.assert_called_once_with("tag", "v1")
    sp.read.option.return_value.table.assert_called_once_with("kg.prod.docs")


def test_iceberg_expire_snapshots_drops_old_tags():
    sp = _snapshot_mock_spark(existing_tags=["v1", "v2", "v3"])
    io = TableIO(spark=sp, root="kg.prod", mode="iceberg")
    assert io.expire_snapshots("docs", keep_last=1) == [1, 2]
    ddl = [c.args[0] for c in sp.sql.call_args_list if "DROP TAG" in c.args[0]]
    assert "DROP TAG `v1`" in ddl[0] and "DROP TAG `v2`" in ddl[1]


def _spark_with_conf(pairs):
    sp = MagicMock()
    sp.sparkContext.getConf.return_value.getAll.return_value = pairs
    return sp


def test_iceberg_available_detection_and_auto():
    with_iceberg = _spark_with_conf(
        [
            ("spark.app.name", "x"),
            ("spark.sql.catalog.kg", "org.apache.iceberg.spark.SparkCatalog"),
        ]
    )
    without = _spark_with_conf([("spark.app.name", "x")])
    assert iceberg_available(with_iceberg) is True
    assert iceberg_available(without) is False
    assert TableIO.auto(with_iceberg, "kg.prod").mode == "iceberg"
    assert TableIO.auto(without, "/tmp/t").mode == "parquet"
