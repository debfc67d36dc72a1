"""Per-stage lineage, metrics, and idempotent resume.

The reference's checkpointing is model-state (torch.save per epoch,
arabiner/trainers/BaseTrainer.py:84-117, natsort-latest load); ours is
DATA checkpointing per the north rule: every stage writes its output
table plus

  * a ``_metrics`` row set — (stage, partition_id, rows_in, rows_out,
    triples, wall_ms, run_id), where partition counts come from one
    ``groupBy(spark_partition_id())`` over the written table (columnar
    count, no second pass over the compute graph) and ``rows_in`` is
    the recorded rows_out total of the stage's primary input;
  * a manifest — (stage, input_snapshot, complete, run_id, rows_out)
    JSON.

Row totals are recorded by an ``observe`` on the frame being written,
so the write job itself counts them: recording adds no Spark job.

Resume rule: a stage is skipped iff its manifest is complete AND its
recorded input snapshot equals the current one.  Outputs are written
createOrReplace-style (sources/io.py), so a re-run after a mid-stage
kill simply replaces a partial table — byte-identical results, no
duplicate lineage (manifests are keyed by stage, last-writer-wins).
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from arabicner_spark.sources.io import TableIO


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
        """Recorded row total of ``name``: an observed frame, a table an
        earlier stage of this run wrote, or the rows_out of a skipped
        stage's manifest; counted (one job) only when none exists."""
        if name in self._observed:
            self._rows[name] = int(self._observed.pop(name).get["rows"])
        if name not in self._rows:
            self._rows[name] = self.io.read(name).count()
        return self._rows[name]

    def _write_manifest(self, stage: str, rows_out: int) -> None:
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "input_snapshot": self.input_snapshot,
                    "complete": True,
                    "run_id": self.run_id,
                    "rows_out": rows_out,
                },
                f,
            )
        os.replace(tmp, self._manifest_path(stage))  # atomic

    def _write_metrics(self, stage: str, rows: DataFrame) -> None:
        """Overwrite THIS stage's metrics partition (stage=<name> dir).

        An append here would duplicate rows if a run died in the window
        between the metrics write and the manifest write (the rerun
        recomputes the stage); per-stage overwrite makes the metrics
        table last-writer-wins exactly like the manifests, so resume
        stays duplicate-free (asserted in tests/test_resume.py).
        Readers load the _metrics root and get ``stage`` back as the
        partition column.
        """
        path = os.path.join(self.io.root, "_metrics", f"stage={stage}")
        rows.drop("stage").write.mode("overwrite").parquet(path)

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
            return self.io.read(out_table)
        t0 = time.time()
        self.io.write(self.observe(compute(), out_table), out_table, partition_by)
        wall_ms = int((time.time() - t0) * 1000)
        print(f"[stage {stage}] {wall_ms} ms", file=sys.stderr)
        written = self.io.read(out_table)
        rows_in = self.rows(rows_in_of) if rows_in_of else 0
        per_part = written.groupBy(
            F.spark_partition_id().cast("int").alias("partition_id")
        ).agg(F.count("*").alias("rows_out"))
        metrics = per_part.select(
            F.lit(stage).alias("stage"),
            "partition_id",
            F.lit(rows_in).cast("bigint").alias("rows_in"),
            F.col("rows_out").cast("bigint"),
            (F.col("rows_out") if count_as_triples else F.lit(0)).cast("bigint").alias("triples"),
            F.lit(wall_ms).cast("bigint").alias("wall_ms"),
            F.lit(self.run_id).alias("run_id"),
        )
        self._write_metrics(stage, metrics)
        self._write_manifest(stage, self.rows(out_table))
        return written
