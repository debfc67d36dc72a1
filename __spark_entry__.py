"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query (canonicalized edge table)
on sf0.001.  ``queries()`` exposes every implemented operator from
SURVEY.md section 2 over the testdata tables; ``oracle_sql()`` gives
each one an exact DuckDB oracle (see
arabicner_spark/plans/testdata_queries.py for how even the mapInPandas
NER stage, MinHash-LSH, and connected components get full SQL parity).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from arabicner_spark.plans.testdata_queries import QUERIES
# an outside harness builds the session: tune() adds what every session
# needs, the package shipped to the Python workers among it
from arabicner_spark.session import tune


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts -> NER -> triples -> linked canonical edges
    on /root/testdata/sf0.001."""
    fn, _ = QUERIES["kg_edges"]
    return fn(tune(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        return lambda spark, sf_dir: fn(tune(spark), sf_dir)

    return {name: wrap(fn) for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in QUERIES.items() if sql is not None}
