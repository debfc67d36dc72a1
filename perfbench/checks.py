"""Output checks, run outside the timed region.

* KG pipeline: the checked pass's mentions, triples and direct alias
  links must equal the serial oracle (``arabicner_spark.oracle``) on
  the same generated rows; every other pass must produce tables equal
  to the checked one.  Planted variants give ``link_recall``.
* Registry: each query's collected rows must equal its DuckDB
  ``oracle_sql`` result as a value multiset (floats to 9 places), with
  the same column names and type labels.
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict, List, Sequence, Tuple

import pyarrow.dataset as ds

from tools import check_correctness as gate

PIPELINE_TABLES = ("mentions", "triples", "surface_map", "edges", "nodes")


def read_rows(path: str, columns: Sequence[str]) -> List[tuple]:
    """Rows of a (hive-partitioned) parquet table written by Spark."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(columns))
    return list(zip(*(c.to_pylist() for c in table.columns))) if table.num_rows else []


def table_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def dir_usage(path: str) -> Tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def fingerprint(out_root: str) -> str:
    h = hashlib.md5()
    for name in PIPELINE_TABLES:
        path = os.path.join(out_root, name)
        cols = sorted(ds.dataset(path, format="parquet", partitioning="hive").schema.names)
        for row in sorted(map(repr, read_rows(path, cols))):
            h.update(row.encode())
        h.update(name.encode())
    return h.hexdigest()


def check_pipeline(out_root: str, corpus) -> Tuple[List[str], float]:
    """Compare one pass with the serial oracle.  Returns (problems, link_recall)."""
    from arabicner_spark import oracle

    problems = []
    want_m = oracle.oracle_mentions(corpus.rows, corpus.gazetteer)
    got_m = sorted(
        read_rows(
            os.path.join(out_root, "mentions"),
            ["conv_id", "turn_idx", "level", "type", "start_tok", "end_tok", "text"],
        )
    )
    if got_m != want_m:
        problems.append(f"mentions: {len(got_m)} rows vs oracle {len(want_m)}")
    want_t = oracle.oracle_triples(want_m)
    got_t = sorted(
        read_rows(
            os.path.join(out_root, "triples"),
            ["subj", "pred", "obj", "conv_id", "turn_idx", "subj_type", "obj_type"],
        )
    )
    if got_t != want_t:
        problems.append(f"triples: {len(got_t)} rows vs oracle {len(want_t)}")
    smap = {
        s: (c, k)
        for s, c, k in read_rows(
            os.path.join(out_root, "surface_map"), ["surface", "canonical_id", "link_kind"]
        )
    }
    direct = {s: c for s, (c, k) in smap.items() if k == "alias"}
    if direct != oracle.oracle_link(want_m, corpus.alias_rows):
        problems.append("direct alias links differ from the oracle")
    hits = sum(
        1
        for v, origin in corpus.variants.items()
        if v in smap and origin in smap and smap[v][0] == smap[origin][0]
    )
    return problems, hits / len(corpus.variants)


# ------------------------------------------------------------ registry
# The comparison is the repository's own DuckDB gate
# (tools/check_correctness.py): same value canonicalization, same
# Spark-vs-Arrow type labels.


class DuckOracle:
    """DuckDB views over the generated tables, one per registry table."""

    def __init__(self, tables_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in gate.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def result(self, sql: str) -> Tuple[List[str], List[str], List[tuple]]:
        """(columns, type labels, canonical rowset) of ``sql``."""
        tab = self.con.sql(sql).arrow()
        cols = tab.schema.names
        rows = list(zip(*(c.to_pylist() for c in tab.columns))) if tab.num_rows else []
        types = [gate.arrow_type_label(f.type) for f in tab.schema]
        return cols, types, gate.rowset(cols, rows)

    def close(self) -> None:
        self.con.close()


def spark_result(df) -> Tuple[List[str], List[str], List[tuple]]:
    """(columns, type labels, canonical rowset) of a collected DataFrame."""
    rows = [tuple(r) for r in df.collect()]
    types = [gate.spark_type_label(f.dataType) for f in df.schema.fields]
    return df.columns, types, gate.rowset(df.columns, rows)


def registry_problems(name: str, got, want) -> List[str]:
    """Differences between a Spark result and its DuckDB oracle result."""
    scols, stypes, srows = got
    dcols, dtypes, drows = want
    if sorted(scols) != sorted(dcols):
        return [f"{name}: columns {sorted(scols)} vs oracle {sorted(dcols)}"]
    diffs = gate.type_labels_match(scols, stypes, dcols, dtypes)
    if diffs:
        return [f"{name}: column types differ from the oracle: {diffs}"]
    if srows != drows:
        return [f"{name}: {len(srows)} rows differ from the oracle's {len(drows)}"]
    return []


def rows_by_table(out_root: str) -> Dict[str, int]:
    return {t: table_rows(os.path.join(out_root, t)) for t in PIPELINE_TABLES}
