"""Per-stage lineage, metrics, and idempotent resume.

The reference's checkpointing is model-state (torch.save per epoch,
arabiner/trainers/BaseTrainer.py:84-117, natsort-latest load); ours is
DATA checkpointing per the north rule: every stage writes its output
table plus

  * a ``_metrics`` row set — (stage, partition_id, rows_in, rows_out,
    triples, wall_ms, run_id), one row per data file the stage wrote
    (``partition_id`` is the file's index in path order).  The rows
    are built on the driver: ``rows_out`` comes from each file's row
    count in the table's own metadata (parquet footers, or Iceberg's
    ``files`` table), ``rows_in`` is the recorded rows_out total of
    the stage's primary input, and pyarrow writes them.  Metrics cost
    no Spark job and no generated code;
  * a manifest — (stage, input_snapshot, complete, run_id, rows_out,
    schema) JSON.

A stage's row total is the sum of its files' row counts.  An input the
run did not write (the transcripts) is counted by an ``observe`` on the
frame, so the job that reads it counts it: no extra Spark job.  The
stage output is read back with the schema it was written with (data
columns, then partition columns), so the read-back infers nothing: no
schema-inference job, and a string partition column whose values look
like numbers stays a string.

Resume rule: a stage is skipped iff its manifest is complete AND its
recorded input snapshot equals the current one.  Outputs are written
createOrReplace-style (sources/io.py), so a re-run after a mid-stage
kill simply replaces a partial table — byte-identical results, no
duplicate lineage (manifests are keyed by stage, last-writer-wins).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from arabicner_spark import schemas
from arabicner_spark.sources.io import TableIO

# a _metrics data file: schemas.METRICS without its partition column
METRICS_FILE = to_arrow_schema(StructType([f for f in schemas.METRICS if f.name != "stage"]))


@dataclass
class StageRunner:
    io: TableIO
    run_id: str
    input_snapshot: str
    _rows: Dict[str, int] = field(default_factory=dict)
    _observed: Dict[str, Observation] = field(default_factory=dict)

    def _manifest_path(self, stage: str) -> str:
        d = os.path.join(self.io.root, "_manifests")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{stage}.json")

    def _manifest(self, stage: str) -> dict:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def is_complete(self, stage: str) -> bool:
        m = self._manifest(stage)
        return bool(m.get("complete")) and m.get("input_snapshot") == self.input_snapshot

    def observe(self, df: DataFrame, name: str) -> DataFrame:
        """``df`` with its row count recorded under ``name`` by the first
        action that runs it (no extra job)."""
        obs = Observation(name)
        self._observed[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def rows(self, name: str) -> int:
        """Recorded row total of ``name``: an observed frame, a table a
        stage of this run wrote, or the rows_out of a skipped stage's
        manifest; counted (one job) only when none exists."""
        if name in self._observed:
            self._rows[name] = int(self._observed.pop(name).get["rows"])
        if name not in self._rows:
            self._rows[name] = self.io.read(name).count()
        return self._rows[name]

    def _write_manifest(self, stage: str, rows_out: int, schema: StructType) -> None:
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "input_snapshot": self.input_snapshot,
                    "complete": True,
                    "run_id": self.run_id,
                    "rows_out": rows_out,
                    "schema": schema.jsonValue(),
                },
                f,
            )
        os.replace(tmp, self._manifest_path(stage))  # atomic

    def _write_metrics(self, stage: str, rows: List[tuple]) -> None:
        """Overwrite THIS stage's metrics partition (stage=<name> dir).

        An append here would duplicate rows if a run died in the window
        between the metrics write and the manifest write (the rerun
        recomputes the stage); per-stage overwrite makes the metrics
        table last-writer-wins exactly like the manifests, so resume
        stays duplicate-free (asserted in tests/test_resume.py).
        Readers load the _metrics root and get ``stage`` back as the
        partition column.
        """
        table = pa.Table.from_pylist([dict(zip(METRICS_FILE.names, r)) for r in rows], schema=METRICS_FILE)
        path = os.path.join(self.io.root, "_metrics", f"stage={stage}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))

    def run(
        self,
        stage: str,
        out_table: str,
        compute: Callable[[], DataFrame],
        partition_by: Optional[List[str]] = None,
        rows_in_of: Optional[str] = None,
        count_as_triples: bool = False,
    ) -> DataFrame:
        """Execute (or skip) one stage; returns the stage output table."""
        if self.is_complete(stage):
            m = self._manifest(stage)
            if "rows_out" in m:
                self._rows[out_table] = m["rows_out"]
            schema = StructType.fromJson(m["schema"]) if "schema" in m else None
            return self.io.read(out_table, schema)
        t0 = time.time()
        df = compute()
        self.io.write(df, out_table, partition_by)
        wall_ms = int((time.time() - t0) * 1000)
        print(f"[stage {stage}] {wall_ms} ms", file=sys.stderr)
        parts = partition_by or []
        schema = StructType(
            [f for f in df.schema if f.name not in parts] + [df.schema[c] for c in parts]
        )
        files = self.io.data_files(out_table)
        self._rows[out_table] = sum(n for _path, n in files)
        rows_in = self.rows(rows_in_of) if rows_in_of else 0
        self._write_metrics(
            stage,
            [
                (i, rows_in, n, n if count_as_triples else 0, wall_ms, self.run_id)
                for i, (_path, n) in enumerate(files)
            ],
        )
        self._write_manifest(stage, self._rows[out_table], schema)
        return self.io.read(out_table, schema)
