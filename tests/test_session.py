"""The session factory: one builder, one shipping rule, one package zip."""

import os
import pathlib
import zipfile

from arabicner_spark import session as factory

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_ship_same_zip_twice_is_a_noop(spark):
    sc = spark.sparkContext
    factory.ship(sc)  # the fixture's session shipped it already
    includes = list(sc._python_includes)
    factory.ship(sc)
    shipped = [f for f in sc.listFiles if f.endswith("/arabicner_spark.zip")]
    assert shipped == ["file:" + factory.package_zip()]
    assert sc._python_includes == includes


def test_ship_nothing_when_imported_from_a_zip(spark, tmp_path, monkeypatch):
    # imported from a zip (spark-submit --py-files), the package's
    # parent is the archive, and --py-files already shipped it
    archive = tmp_path / "arabicner_spark.zip"
    archive.write_bytes(b"")
    monkeypatch.setattr(factory, "_ROOT", str(archive))
    before = spark.sparkContext.listFiles
    factory.ship(spark.sparkContext)
    assert spark.sparkContext.listFiles == before


def test_package_zip_rebuilds_only_when_stale(tmp_path, monkeypatch):
    pkg = tmp_path / "arabicner_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("A = 1\n")
    (pkg / "b.py").write_text("")
    monkeypatch.setattr(factory, "_ROOT", str(tmp_path))
    monkeypatch.setattr(factory, "_PACKAGE", str(pkg))

    def read():
        with zipfile.ZipFile(factory.package_zip()) as z:
            return {n: z.read(n) for n in z.namelist()}

    zpath = factory.package_zip()
    t = os.stat(zpath).st_mtime
    assert os.stat(factory.package_zip()).st_mtime == t  # fresh: kept
    (pkg / "a.py").write_text("A = 2\n")
    os.utime(pkg / "a.py", (t + 10, t + 10))  # newer than the zip
    assert read()["arabicner_spark/a.py"] == b"A = 2\n"
    os.utime(pkg / "a.py", (t - 10, t - 10))
    (pkg / "b.py").unlink()  # bumps no mtime: the name set rebuilds
    assert list(read()) == ["arabicner_spark/a.py"]
    with open(zpath, "r+b") as f:  # truncated: unreadable
        f.truncate(10)
    assert list(read()) == ["arabicner_spark/a.py"]
    assert sorted(os.listdir(tmp_path)) == ["arabicner_spark", "arabicner_spark.zip"]


def test_only_the_factory_builds_a_session():
    """The next tool must not grow its own session: only the factory and
    what may not use it (the frozen bench.py, perfbench's own session,
    the cwd test's outside-harness script) spell the builder."""
    allowed = {"arabicner_spark/session.py", "bench.py", "tests/test_entry_cwd_independence.py"}
    found = {
        p.relative_to(REPO).as_posix()
        for p in REPO.rglob("*.py")
        if "SparkSession" + ".builder" in p.read_text(encoding="utf-8")
    }
    assert sorted(p for p in found - allowed if not p.startswith(("perfbench/", "."))) == []


def test_local_session_runs_one_shuffle_partition_per_slot(spark):
    """A set width (the fixture's 8, as a caller's or --conf's would be)
    wins; with none set, a local session takes one per slot."""
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    assert factory.session().conf.get(key) == width == "8"
    spark.conf.unset(key)
    try:
        assert factory.session().conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(key, width)
