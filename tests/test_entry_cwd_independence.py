"""Sessions must not depend on the process working directory: Python
workers inherit the driver's CWD (not sys.path), so module-level
closures (mapInPandas scorers, the foreachBatch sink) deserialize on
workers only because the package zip is shipped to them
(arabicner_spark.session.ship).  Two ways in: an outside harness's
session handed to the driver contract, and a session the factory
builds.  Regressions: the streaming gate query (driver contract) and
tools/bench_extra.py (its own builder) failed with ModuleNotFoundError
when driven from outside the repo root."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as e
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
qs = e.queries()
# a mapInPandas query whose closure references package module functions
n = qs["kg_mentions_bio"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("OK", n)
"""

# the factory's session, no driver contract in between
_FACTORY_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from arabicner_spark.plans.testdata_queries import QUERIES
from arabicner_spark.session import session
spark = session()
width = spark.conf.get("spark.sql.shuffle.partitions")
assert width == str(spark.sparkContext.defaultParallelism), width
n = QUERIES["kg_mentions_bio"][0](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("OK", n)
"""


def _run_from(tmp_path, script):
    proc = subprocess.run(
        [sys.executable, "-c", script.format(repo=REPO)],
        cwd=str(tmp_path),  # NOT the repo root
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "OK" in proc.stdout


def test_worker_closures_resolve_from_foreign_cwd(tmp_path):
    _run_from(tmp_path, _SCRIPT)


def test_factory_session_resolves_from_foreign_cwd(tmp_path):
    _run_from(tmp_path, _FACTORY_SCRIPT)
