"""The one SparkSession builder for the entry points, the tools and the
tests, and the package zip it ships to the Python workers.

Workers inherit the driver's working directory, not its ``sys.path``:
module-level closures (mapInPandas scorers, the foreachBatch sink)
deserialize on them only if the package is shipped, as ``--py-files``
ships it.
"""

from __future__ import annotations

import os
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PACKAGE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PACKAGE)  # a directory, or the zip it was imported from
_SHUFFLE = "spark.sql.shuffle.partitions"


def package_zip() -> str:
    """``arabicner_spark.zip`` beside the package, rebuilt when a source
    is newer, the name set differs (a deleted source bumps no mtime) or
    it is unreadable; written to a temp file and renamed into place, so
    workers never run stale or truncated code."""
    zip_path = os.path.join(_ROOT, "arabicner_spark.zip")
    sources = sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(_PACKAGE) for f in fs if f.endswith(".py")
    )
    names = [os.path.relpath(p, _ROOT) for p in sources]
    newest = max(map(os.path.getmtime, sources))
    try:
        with zipfile.ZipFile(zip_path) as z:
            fresh = sorted(z.namelist()) == names
        fresh = fresh and os.path.getmtime(zip_path) >= newest
    except (OSError, zipfile.BadZipFile):
        fresh = False
    if not fresh:
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for p, name in zip(sources, names):
                z.write(p, name)
        os.replace(tmp, zip_path)
    return zip_path


def ship(sc: SparkContext) -> None:
    """Add the package zip to ``sc``.  Nothing is shipped when the
    package was imported from a zip: ``--py-files`` shipped it, and
    Spark refuses a second file of that name from another path.  The
    same zip twice is a no-op; any other error raises."""
    if os.path.isfile(_ROOT):
        return
    path = package_zip()
    if "file:" + path not in sc.listFiles:
        sc.addPyFile(path)


def tune(spark: SparkSession) -> SparkSession:
    """The runtime settings every session needs: UTC, so timestamps mean
    the same instant in Spark and DuckDB, AQE on, the package shipped."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    ship(spark.sparkContext)
    return spark


def session(
    master: str | None = None,
    driver_mem: str = "4g",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) the session.  With no ``master`` none is set, so
    spark-submit's stays, and a plain ``python`` launch runs ``local[*]``:
    one slot per CPU in this process's affinity mask.  ``driver_mem``
    sizes the one JVM of a local run (the test suite and its job budgets
    were measured at 4g; a JVM spark-submit started is sized already).
    A shuffle width set by the caller, ``--conf`` or spark-defaults
    wins; otherwise a local master runs one shuffle partition per slot
    (Spark's default 200 would pin a 4-core run's stages 200 wide) and a
    cluster master keeps Spark's default."""
    b = (
        SparkSession.builder.appName("arabicner-spark")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config(_SHUFFLE, str(shuffle_partitions))
    spark = b.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if sc.master.startswith("local") and spark.conf.get(_SHUFFLE, None) is None:
        spark.conf.set(_SHUFFLE, str(sc.defaultParallelism))
    return tune(spark)
