"""The two workloads.  Each one generates its inputs from the seed, runs
passes through public entry points only, checks outputs outside the
timed region, and turns a traced pass into per-layer figures.

* ``kg_open_vocab``: ``plans.pipeline.run_pipeline`` over the synthetic
  corpus plus a generated open vocabulary (see ``inputs.kg_corpus``).
* ``registry_sf0.01``: ``REGISTRY_QUERIES`` from
  ``plans.testdata_queries.QUERIES``, each materialized with the
  ``noop`` sink, over generated scale-factor-0.01 tables.

A pass returns a handle that ``check`` inspects afterwards; ``check``
returns a list of problems (empty when the pass is correct).  ``verify``
runs after the timed passes and returns the problems of each extra
checked pass it makes (the registry's noop passes keep no output, so
it collects every query once more).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from typing import Dict, List, Optional

from perfbench import benv, checks, inputs
from perfbench.spans import GroupStats, Patch, Tracer, layer_stats

# pipeline stage (StageRunner name) -> layer name used in the metrics
STAGE_LAYERS = {"mentions": "ner", "triples": "triples", "linking": "linking", "edges": "edges", "nodes": "nodes"}
STAGE_TABLE = {"mentions": "mentions", "triples": "triples", "linking": "surface_map", "edges": "edges", "nodes": "nodes"}
FIELD_UNITS = {
    "span_s": "s", "write_s": "s", "task_s": "s", "cpu_s": "s", "py_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "jobs": "count", "tasks": "count", "task_skew": "ratio", "rows_out": "count",
}

# The part of the registry that fits the run budget: the flagship KG
# query (NER, triples, linking over the documents table), the graph
# family (the only callers of operators/graph.py) and one relational
# aggregate whose sums a count() would have optimized away.
REGISTRY_QUERIES = [
    "kg_edges",
    "kg_pagerank_personalized", "kg_temporal_reach", "graph_kcore", "kg_label_prop",
    "rel_lineitem_agg",
]


def per_layer_units() -> Dict[str, str]:
    """Every per-layer metric -> unit.  All workloads report all of them;
    a layer a workload never runs reads 0."""
    units: Dict[str, str] = {}
    for layer in STAGE_LAYERS.values():
        for f, u in FIELD_UNITS.items():
            units[f"{layer}.{f}"] = u
    units.update({
        "ner.mentions_per_turn": "ratio",
        "linking.alias_hit_ratio": "ratio",
        "linking.verified_per_candidate": "ratio",
        "linking.link_recall": "ratio",
        "lineage.self_s": "s",
        "io.write_mb": "MB",
        "io.files": "count",
    })
    for q in REGISTRY_QUERIES:
        units.update({f"q.{q}.s": "s", f"q.{q}.jobs": "count", f"q.{q}.task_s": "s"})
    units.update({
        "env.probe_s": "s",
        "env.steal_frac": "ratio",
        "trace.pass_s": "s",
        "trace.untraced_pass_s": "s",
        "trace.overhead_s": "s",
        "trace.pass_cpu_s": "s",
        "trace.untraced_pass_cpu_s": "s",
        "trace.overhead_cpu_s": "s",
        "trace.coverage": "ratio",
    })
    return units


class KgOpenVocab:
    name = "kg_open_vocab"
    N_TURNS = 3000
    N_ENTITIES = 2000

    def __init__(self, seed: int, root: benv.RunRoot):
        self.seed = seed
        self.root = root
        self.checked_fp = ""
        self.out_bytes: List[int] = []
        self.out_files: List[int] = []

    def generate(self, k: int) -> None:
        self.corpus = inputs.kg_corpus(self.seed, self.N_TURNS, self.N_ENTITIES)
        self.input_path = os.path.join(self.root.path, f"input{k}")
        inputs.write_transcripts(self.corpus.rows, self.input_path, benv.cores())

    def prepare(self, spark) -> None:
        from arabicner_spark.plans.pipeline import PipelineConfig

        self.spark = spark
        self.transcripts = spark.read.parquet(self.input_path)
        self.cfg = PipelineConfig(gazetteer=self.corpus.gazetteer, alias_rows=self.corpus.alias_rows)

    @property
    def turns(self) -> int:
        return len(self.corpus.rows)

    def warm_up(self) -> List[str]:
        """The first pass, checked against the serial oracle.

        Returns the problems; ``self.warm_s`` is the pass time alone."""
        t0 = time.perf_counter()
        out = self.run_pass("w0")
        self.warm_s = time.perf_counter() - t0
        problems, self.link_recall = checks.check_pipeline(out, self.corpus)
        self.checked_fp = checks.fingerprint(out)
        self.rows = checks.rows_by_table(out)
        self.alias_links = sum(
            1 for (k,) in checks.read_rows(os.path.join(out, "surface_map"), ["link_kind"]) if k == "alias"
        )
        shutil.rmtree(out, ignore_errors=True)
        return problems

    def run_pass(self, pass_id: str, tracer: Optional[Tracer] = None) -> str:
        """One pipeline run into a fresh output root (spans come from patches)."""
        from arabicner_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.root.path, "out", pass_id)
        run_pipeline(self.spark, self.transcripts, self.cfg, out, run_id=pass_id, input_snapshot=self.input_path)
        return out

    def check(self, out: str) -> List[str]:
        size, files = checks.dir_usage(out)
        self.out_bytes.append(size)
        self.out_files.append(files)
        same = checks.fingerprint(out) == self.checked_fp
        shutil.rmtree(out, ignore_errors=True)
        return [] if same else [f"{os.path.basename(out)}: output differs from the checked pass"]

    def verify(self) -> List[List[str]]:
        return []  # every pass is checked by ``check``

    @property
    def triples(self) -> int:
        return self.rows["edges"]

    def patches(self) -> List[Patch]:
        from arabicner_spark.functions import hashing
        from arabicner_spark.operators import linking, ner
        from arabicner_spark.plans import lineage, pipeline
        from arabicner_spark.sources import io

        return [
            Patch(lineage.StageRunner, "run", span=lambda a: a[1]),
            Patch(io.TableIO, "write", span=lambda a: "io.write"),
            Patch(io.TableIO, "read", span=lambda a: "io.read"),
            Patch(ner, "extract_mentions", span=lambda a: "ner.extract_mentions"),
            Patch(pipeline, "extract_triples", span=lambda a: "triples.extract_triples"),
            Patch(pipeline, "link_surfaces", span=lambda a: "linking.link_surfaces"),
            Patch(pipeline, "canonicalize_triples", span=lambda a: "linking.canonicalize_triples"),
            # the LSH boundaries: keep the candidate and verified pair
            # frames so their sizes can be counted after the pass
            Patch(hashing, "lsh_candidate_pairs", span=lambda a: "linking.lsh_candidate_pairs",
                  keep=lambda a, r: r),
            Patch(linking, "connected_components_adaptive", span=lambda a: "linking.components",
                  keep=lambda a, r: a[0]),
        ]

    def layer_metrics(self, tracer: Tracer, groups: Dict[str, GroupStats], pass_id: str) -> Dict[str, float]:
        m: Dict[str, float] = {}
        lineage_self = 0.0
        for idx, span in tracer.top_spans(pass_id):
            layer = STAGE_LAYERS.get(span.name)
            if layer is None:
                continue
            st = layer_stats(groups, pass_id, span.name)
            m.update({
                f"{layer}.span_s": span.dur,
                f"{layer}.write_s": sum(s.dur for s in tracer.children(idx, "io.write")),
                f"{layer}.task_s": st.task_s,
                f"{layer}.cpu_s": st.cpu_s,
                f"{layer}.py_s": st.py_s,
                f"{layer}.gc_s": st.gc_s,
                f"{layer}.shuffle_mb": st.shuffle_mb,
                f"{layer}.jobs": st.jobs,
                f"{layer}.tasks": st.tasks,
                f"{layer}.task_skew": st.task_skew,
                f"{layer}.rows_out": self.rows[STAGE_TABLE[span.name]],
            })
            lineage_self += tracer.self_time(idx)
        m["lineage.self_s"] = lineage_self
        return m

    def fixed_metrics(self, tracer: Tracer) -> Dict[str, float]:
        """Counts that do not vary between passes."""
        cand = tracer.kept.get("lsh_candidate_pairs", [])
        ver = tracer.kept.get("connected_components_adaptive", [])
        n_cand = cand[-1].count() if cand else 0
        n_ver = ver[-1].count() if ver else 0
        return {
            "ner.mentions_per_turn": self.rows["mentions"] / self.turns,
            "linking.alias_hit_ratio": self.alias_links / self.rows["surface_map"],
            "linking.verified_per_candidate": n_ver / n_cand if n_cand else 0.0,
            "linking.link_recall": self.link_recall,
            "io.write_mb": statistics.median(self.out_bytes) / 2**20 if self.out_bytes else 0.0,
            "io.files": statistics.median(self.out_files) if self.out_files else 0,
        }


class Registry:
    name = "registry_sf0.01"

    def __init__(self, seed: int, root: benv.RunRoot):
        self.seed = seed
        self.root = root

    def generate(self, k: int) -> None:
        self.tables_dir = os.path.join(self.root.path, f"tables{k}")
        self.sizes = inputs.registry_tables(self.seed, self.tables_dir)

    def prepare(self, spark) -> None:
        from arabicner_spark.plans.testdata_queries import QUERIES

        self.spark = spark
        self.queries = {q: QUERIES[q] for q in REGISTRY_QUERIES}

    @property
    def turns(self) -> int:
        # the kg_* queries read the documents table as transcript turns
        return self.sizes["documents"]

    def warm_up(self) -> List[str]:
        """One noop pass, the same work the timed passes do; the DuckDB
        oracle results are computed here too, outside any timing.

        Returns the problems; ``self.warm_s`` is the pass time alone."""
        t0 = time.perf_counter()
        self.run_pass("w0")
        self.warm_s = time.perf_counter() - t0
        duck = checks.DuckOracle(self.tables_dir)
        try:
            self.want = {q: duck.result(sql) for q, (_fn, sql) in self.queries.items()}
        finally:
            duck.close()
        return []

    def run_pass(self, pass_id: str, tracer: Optional[Tracer] = None) -> str:
        for q, (fn, _sql) in self.queries.items():
            with tracer.span(f"q.{q}") if tracer else nullcontext():
                fn(self.spark, self.tables_dir).write.format("noop").mode("overwrite").save()
        return pass_id

    def check(self, _pass_id: str) -> List[str]:
        return []  # the noop sink keeps nothing: a timed pass fails only by raising

    def verify(self) -> List[List[str]]:
        """After the timed passes, collect every query once and compare
        it with its DuckDB result: one more checked pass."""
        problems = []
        for q, (fn, _sql) in self.queries.items():
            got = checks.spark_result(fn(self.spark, self.tables_dir))
            if q == "kg_edges":
                self.edges_rows = len(got[2])
            problems += checks.registry_problems(q, got, self.want[q])
        return [problems]

    @property
    def triples(self) -> int:
        return self.edges_rows

    def patches(self) -> List[Patch]:
        return []

    def layer_metrics(self, tracer: Tracer, groups: Dict[str, GroupStats], pass_id: str) -> Dict[str, float]:
        m: Dict[str, float] = {}
        for _idx, span in tracer.top_spans(pass_id):
            st = layer_stats(groups, pass_id, span.name)
            m.update({f"{span.name}.s": span.dur, f"{span.name}.jobs": st.jobs, f"{span.name}.task_s": st.task_s})
        return m

    def fixed_metrics(self, tracer: Tracer) -> Dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (KgOpenVocab, Registry)}
