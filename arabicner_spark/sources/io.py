"""Iceberg-or-parquet IO facade.

The north rule targets partitioned Iceberg tables (snapshot-isolated
writes, partition pruning).  The sandbox has no Iceberg runtime jars,
so the catalog lives behind this one module: ``TableIO`` speaks
Iceberg when a catalog is configured (``writeTo(...).partitionedBy``
V2 API, createOrReplace = snapshot-atomic) and partitioned parquet
directories otherwise — a config flag, not a code fork.  All pipeline
stages depend only on this facade.

BLOCKER NOTE (2026-08-16, round 3): a REAL Iceberg round-trip remains
impossible in this sandbox — ``iceberg-spark-runtime`` is not on the
image, there is no network (repo1.maven.org does not resolve), and
``pip install`` is prohibited.  Every iceberg-mode call path below
(write sequence, read/exists identifiers, snapshot_id query) is
therefore pinned by mocked tests (tests/test_iceberg_branch.py) and
the parquet facade carries the integration tests.  First action on an
image with the jars: run this suite with
``spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog`` and a
local warehouse dir; the facade needs no code change.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    """True if an Iceberg SparkCatalog is configured on this session."""
    try:
        for k in spark.sparkContext.getConf().getAll():
            if k[0].startswith("spark.sql.catalog.") and "iceberg" in k[1].lower():
                return True
    except Exception:
        pass
    return False


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side rows as a DataFrame over a ``LocalTableScan``.

    ``createDataFrame(list)`` scans a PythonRDD spread over
    defaultParallelism slices: every action on a dictionary-sized table
    pays ~cores Python-worker tasks.  An Arrow table with an explicit
    schema (``schema``: a StructType or DDL string) becomes a local
    relation instead, which the planner inlines, sizes for broadcast,
    and never ships to a Python worker.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def pin_width(spark: SparkSession) -> int:
    """Partition count of the explicit width pins on compute-bound,
    bytes-small stages; each such operator reads it from its input's
    session.  AQE coalesces a shuffle by BYTES, so a few MB of docs,
    mentions, shingles or bands fold to 1-2 partitions and the
    compute-heavy work after them (shingle construction and hashing,
    pair combinatorics, numpy verify) runs single-threaded (measured
    5.4 s -> sub-second at sf0.1 for the minhash stage; PLANS.md).  An
    explicit repartition pins the stage width instead.  It is the max()
    of core count and the configured shuffle width: the pin replaces
    the AQE-sized exchange, so pinning to bare defaultParallelism would
    CAP those stages at cluster-core-count partitions on arbitrarily
    large inputs (oversized partitions, no AQE split on the pinned
    exchange), and a pin must never be narrower than the shuffle
    width."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def parquet_fingerprint(path: str) -> str:
    """md5 over the sorted (relative path, size) listing of a parquet
    directory — the parquet facade's snapshot id.  Part files carry
    fresh UUID names on every write, so any rewrite changes it."""
    entries = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            entries.append(f"{os.path.relpath(p, path)}:{os.path.getsize(p)}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


@dataclass
class TableIO:
    """Reads/writes pipeline tables under one namespace.

    mode='iceberg': root is a catalog namespace like 'kg.prod'.
    mode='parquet': root is a directory; tables are partitioned parquet
    subdirs with atomic-enough overwrite (write to _tmp, rename).
    """

    spark: SparkSession
    root: str
    mode: str = "parquet"  # or "iceberg"

    @classmethod
    def auto(cls, spark: SparkSession, root: str) -> "TableIO":
        return cls(spark, root, "iceberg" if iceberg_available(spark) else "parquet")

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str, schema: Optional[StructType] = None) -> DataFrame:
        """The table ``name``.  A parquet table read with the ``schema``
        it was written with (data columns, then partition columns) needs
        no schema-inference job, and its partition columns keep their
        written types instead of types guessed from directory names;
        Iceberg tables carry their own schema."""
        if self.mode == "iceberg":
            return self.spark.read.table(f"{self.root}.{name}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def data_files(self, name: str) -> List[Tuple[str, int]]:
        """(path, rows) of each data file of ``name``, in path order, from
        table metadata alone: Iceberg's ``files`` metadata table, or each
        parquet file's footer."""
        if self.mode == "iceberg":
            rows = self.spark.sql(
                f"SELECT file_path, record_count FROM {self.root}.{name}.files"
            ).collect()
            return sorted((r.file_path, int(r.record_count)) for r in rows)
        import pyarrow.parquet as pq

        out = []
        for dirpath, dirs, files in os.walk(self._path(name)):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    p = os.path.join(dirpath, f)
                    out.append((p, pq.read_metadata(p).num_rows))
        return sorted(out)

    def exists(self, name: str) -> bool:
        if self.mode == "iceberg":
            return self.spark.catalog.tableExists(f"{self.root}.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def snapshot_id(self, name: str) -> str:
        """Identity of the table's CURRENT materialization, for the
        resume rule: a stage may be skipped only if its manifest was
        written against the same input snapshot (plans/lineage.py).

        iceberg: the latest snapshot_id from the table's ``.snapshots``
        metadata table — Iceberg's own snapshot isolation means this
        changes iff the table content was committed to.

        parquet: an md5 over the sorted (relative path, size) listing
        of the table directory.  Parquet part files carry fresh UUID
        names on every write, so ANY rewrite changes the fingerprint —
        the same "content was committed to" semantics, facade-grade.
        """
        if self.mode == "iceberg":
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self.root}.{name}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()
            return str(row.snapshot_id) if row is not None else ""
        return parquet_fingerprint(self._path(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: Optional[List[str]] = None,
    ) -> None:
        """createOrReplace semantics on both backends — stage outputs
        are deterministic functions of their inputs, so replace-on-rerun
        is what makes resume idempotent."""
        if self.mode == "iceberg":
            w = df.writeTo(f"{self.root}.{name}").using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        if partition_by:
            # the files hold only the data columns; leading with the
            # partition columns lets every table partitioned by one
            # string column share the write's sort and partition-path
            # generated code
            df = df.select(*partition_by, *[c for c in df.columns if c not in partition_by])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))

    # ----------------------------------------------- snapshots / time travel

    def write_snapshot(self, df: DataFrame, name: str) -> int:
        """Commit a new IMMUTABLE version of ``name`` and return its
        version number (1-based, monotone).

        iceberg: a createOrReplace commit — Iceberg keeps the snapshot
        history natively and ``read_snapshot`` maps to ``VERSION AS
        OF``.  parquet facade: versions are immutable subdirectories
        ``<name>/v=<N>``; a new commit writes v=<N+1> and NEVER
        rewrites a prior version — the same append-only-metadata
        contract that makes Iceberg time travel safe under concurrent
        readers (a reader of v=N is undisturbed by the v=N+1 commit).
        """
        if self.mode == "iceberg":
            # First commit creates the table; later commits REPLACE the
            # rows via the V2 overwrite (a new snapshot on the SAME
            # table — createOrReplace would drop and recreate
            # schema/partition-spec and orphan the snapshot history).
            tbl = f"{self.root}.{name}"
            if self.spark.catalog.tableExists(tbl):
                from pyspark.sql import functions as F

                df.writeTo(tbl).using("iceberg").overwrite(F.lit(True))
            else:
                df.writeTo(tbl).using("iceberg").createOrReplace()
            # Pin the committed snapshot under an immutable named ref
            # (tag) — positional ordinals over .snapshots silently shift
            # when compaction/expiry rewrites history, tags never do.
            # The snapshot id comes from the MAIN BRANCH REF, not from
            # ORDER BY committed_at: committed_at has millisecond
            # granularity, so two back-to-back commits in the same
            # millisecond would make wall-clock ordering nondeterministic
            # and could tag the wrong snapshot (ADVICE r6).
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {tbl}.refs WHERE name = 'main'"
            ).first()
            n = (max(self.snapshot_versions(name), default=0)) + 1
            self.spark.sql(
                f"ALTER TABLE {tbl} CREATE TAG `v{n}` "
                f"AS OF VERSION {row.snapshot_id}"
            )
            return n
        n = (max(self.snapshot_versions(name), default=0)) + 1
        df.write.mode("errorifexists").parquet(
            os.path.join(self._path(name), f"v={n}")
        )
        return n

    def snapshot_versions(self, name: str) -> List[int]:
        """Committed version numbers, ascending (parquet facade: only
        dirs whose write completed — _SUCCESS present)."""
        if self.mode == "iceberg":
            # versions are the v<N> tags written by write_snapshot — a
            # named-ref lookup in .refs, immune to history rewrites
            rows = self.spark.sql(
                f"SELECT name FROM {self.root}.{name}.refs WHERE type = 'TAG'"
            ).collect()
            out = []
            for r in rows:
                nm = r.name
                if nm.startswith("v") and nm[1:].isdigit():
                    out.append(int(nm[1:]))
            return sorted(out)
        # Hadoop FileSystem listing, not os.listdir: the facade path may
        # carry any scheme (file:, hdfs:, s3a:) — same rule as the
        # expire/delete paths.
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        base = jvm.org.apache.hadoop.fs.Path(self._path(name))
        fs = base.getFileSystem(hconf)
        if not fs.exists(base):
            return []
        out = []
        for st in fs.listStatus(base):
            nm = st.getPath().getName()
            if nm.startswith("v=") and fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            ):
                out.append(int(nm[2:]))
        return sorted(out)

    def expire_snapshots(self, name: str, keep_last: int = 2) -> List[int]:
        """Iceberg-style snapshot expiry (the maintenance op that pairs
        with time travel): drop all but the newest ``keep_last``
        versions and return the expired version numbers.  Deletion goes
        through the Hadoop FileSystem API so the facade works on any
        scheme.  iceberg mode drops the expired v<N> TAGS (so the
        facade's version list shrinks identically on both backends) —
        the data/metadata files themselves are the engine's to reclaim
        via the catalog's expire_snapshots procedure, which must run
        separately."""
        if self.mode == "iceberg":
            versions = self.snapshot_versions(name)
            drop = versions[:-keep_last] if keep_last > 0 else versions
            for v in drop:
                self.spark.sql(
                    f"ALTER TABLE {self.root}.{name} DROP TAG `v{v}`"
                )
            return drop
        versions = self.snapshot_versions(name)
        drop = versions[:-keep_last] if keep_last > 0 else versions
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        for v in drop:
            p = jvm.org.apache.hadoop.fs.Path(
                os.path.join(self._path(name), f"v={v}")
            )
            p.getFileSystem(hconf).delete(p, True)
        return drop

    def read_snapshot(self, name: str, version: Optional[int] = None) -> DataFrame:
        """Time-travel read: the table AS OF ``version`` (latest when
        None).  Old versions stay readable unchanged after newer
        commits — gated by the snapshot_time_travel oracle query."""
        versions = self.snapshot_versions(name)
        if not versions:
            raise ValueError(f"no snapshots for table {name}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(f"unknown snapshot version {v} for {name}")
        if self.mode == "iceberg":
            # read the immutable named ref, not a positional ordinal —
            # tag reads survive compaction/expiry history rewrites
            return self.spark.read.option("tag", f"v{v}").table(
                f"{self.root}.{name}"
            )
        return self.spark.read.parquet(os.path.join(self._path(name), f"v={v}"))
