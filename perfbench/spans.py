"""Tracing from the benchmark's side of the public boundaries.

``Tracer.installed`` swaps wrappers onto program attributes (stage
runner, table IO, operator entry points) for the traced passes only;
registry calls are wrapped where the benchmark makes them.  Each span
records name, start, end, parent and pass id, and sets the Spark job
group to the span path, so the event log attributes every job, stage
and task to the innermost span.  Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Dict, Iterable, List, Optional, Tuple

GROUP_KEY = "spark.jobGroup.id"
_PYTHON_MARKERS = ("Pandas", "Arrow", "Python")


@dataclass
class Span:
    name: str
    path: str  # pass id and span names joined by "|": the job group
    parent: Optional[int]
    pass_id: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Patch:
    """Wrap ``owner.attr`` in a span named ``span(args)``; with ``keep``,
    also store ``keep(args, result)`` in ``Tracer.kept[attr]``."""

    owner: object
    attr: str
    span: Callable
    keep: Optional[Callable] = None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Span] = []
        self.kept: Dict[str, list] = defaultdict(list)
        self._stack: List[int] = []
        self.pass_id = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        prefix = self.spans[parent].path if parent is not None else self.pass_id
        rec = Span(name, f"{prefix}|{name}", parent, self.pass_id, time.perf_counter())
        self.spans.append(rec)
        idx = len(self.spans) - 1
        old = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, rec.path)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, old)

    def _wrap(self, fn: Callable, p: Patch) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(p.span(args)):
                result = fn(*args, **kwargs)
            if p.keep is not None:
                self.kept[p.attr].append(p.keep(args, result))
            return result

        return wrapper

    @contextmanager
    def installed(self, patches: Iterable[Patch]):
        saved = []
        try:
            for p in patches:
                orig = getattr(p.owner, p.attr)
                saved.append((p.owner, p.attr, orig))
                setattr(p.owner, p.attr, self._wrap(orig, p))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def top_spans(self, pass_id: str) -> List[Tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.pass_id == pass_id and s.parent is None]

    def children(self, idx: int, name: str) -> List[Span]:
        return [s for s in self.spans if s.parent == idx and s.name == name]

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s.dur for s in self.spans if s.parent == idx)
        return self.spans[idx].dur - kids


# ----------------------------------------------------------- event log


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    py_s: float = 0.0
    shuffle_mb: float = 0.0
    task_skew: float = 0.0

    def add(self, o: "GroupStats") -> None:
        self.jobs += o.jobs
        self.tasks += o.tasks
        self.task_s += o.task_s
        self.cpu_s += o.cpu_s
        self.gc_s += o.gc_s
        self.py_s += o.py_s
        self.shuffle_mb += o.shuffle_mb
        self.task_skew = max(self.task_skew, o.task_skew)


def parse_event_log(path: str) -> Dict[str, GroupStats]:
    """Per job group: job/task counts, task run, JVM CPU and GC seconds,
    Python seconds (run minus CPU on stages with a Python operator),
    shuffle MB written, and max/median task run time of the group's
    heaviest stage."""
    stage_group: Dict[int, str] = {}
    stage_py: Dict[int, bool] = {}
    stage_runs: Dict[int, List[float]] = defaultdict(list)
    out: Dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(GROUP_KEY)
                if g:
                    out[g].jobs += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get(GROUP_KEY)
                if g:
                    sid = info["Stage ID"]
                    stage_group[sid] = g
                    stage_py[sid] = any(
                        m in (r.get("Scope") or "") + (r.get("Name") or "")
                        for r in info.get("RDD Info", [])
                        for m in _PYTHON_MARKERS
                    )
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                g = stage_group.get(sid)
                m = e.get("Task Metrics")
                if g is None or not m:
                    continue
                st = out[g]
                run = m["Executor Run Time"] / 1e3
                cpu = m["Executor CPU Time"] / 1e9
                st.tasks += 1
                st.task_s += run
                st.cpu_s += cpu
                st.gc_s += m["JVM GC Time"] / 1e3
                if stage_py.get(sid):
                    st.py_s += max(0.0, run - cpu)
                st.shuffle_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                stage_runs[sid].append(run)
    heaviest: Dict[str, List[float]] = {}
    for sid, runs in stage_runs.items():
        g = stage_group[sid]
        if sum(runs) > sum(heaviest.get(g, ())):
            heaviest[g] = runs
    for g, runs in heaviest.items():
        med = statistics.median(runs)
        out[g].task_skew = max(runs) / med if med > 0 else 1.0
    return dict(out)


def layer_stats(groups: Dict[str, GroupStats], pass_id: str, layer: str) -> GroupStats:
    """Sum over the job groups of one pass whose top span is ``layer``."""
    total = GroupStats()
    for g, st in groups.items():
        parts = g.split("|")
        if parts[0] == pass_id and len(parts) > 1 and parts[1] == layer:
            total.add(st)
    return total
