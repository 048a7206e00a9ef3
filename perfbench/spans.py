"""Spans around layer calls, and Spark's own stage metrics per layer.

A span records name, layer, start, end and parent, plus the CPU the Spark
process tree spent inside it. Spans stay in memory and are written out with
the ledger when the run ends. Every span runs under
``SparkContext.setJobGroup(<span name>)``; afterwards the Spark UI's REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) is read once and each
completed stage is attributed to the job group of the job that ran it.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from proc import tree_cpu_s


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str = ""):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer or name, parent,
                 time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s.id)
        outer = self.spans[parent].name if parent is not None else None
        sc.setJobGroup(name, name)
        cpu0 = tree_cpu_s(os.getpid(), include_root=False)
        try:
            yield s
        finally:
            s.cpu_s = tree_cpu_s(os.getpid(), include_root=False) - cpu0
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if outer is not None:
                sc.setJobGroup(outer, outer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_s(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return span.wall_s - sum(c.wall_s for c in self.children(span.id))

    def root(self, name: str) -> Span:
        return next(s for s in self.spans if s.parent is None and s.name == name)

    def layer_self_s(self, root: Span) -> dict[str, float]:
        """Self time per layer over the subtree of ``root``."""
        out: dict[str, float] = {}
        todo = list(self.children(root.id))
        while todo:
            s = todo.pop()
            out[s.layer] = out.get(s.layer, 0.0) + self.self_s(s)
            todo.extend(self.children(s.id))
        return out

    def dump(self) -> list[dict]:
        return [dict(asdict(s), wall_s=s.wall_s, self_s=self.self_s(s))
                for s in self.spans]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics(spark) -> dict[str, dict]:
    """Spark stage counters summed per job group, from the UI's REST API.

    Returns ``{group: {executor_cpu_s, executor_run_s, gc_s,
    shuffle_write_bytes, tasks, widest_tasks, task_skew}}``, where
    ``task_skew`` is the max/median task run time of the group's widest
    stage, which ran ``widest_tasks`` tasks."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    stage_group: dict[int, str] = {}
    for job in _get(f"{base}/jobs"):
        group = job.get("jobGroup")
        if group:
            for sid in job.get("stageIds", ()):
                stage_group[sid] = group
    out: dict[str, dict] = {}
    for st in _get(f"{base}/stages"):
        group = stage_group.get(st["stageId"])
        if group is None or st.get("status") != "COMPLETE":
            continue
        g = out.setdefault(group, {
            "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "tasks": 0, "task_skew": 0.0,
            "widest_tasks": -1})
        g["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        g["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
        g["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        g["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        n = st.get("numCompleteTasks", 0)
        g["tasks"] += n
        if n > g["widest_tasks"]:
            g["widest_tasks"] = n
            q = _get(f"{base}/stages/{st['stageId']}/{st['attemptId']}"
                     f"/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            g["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
    return out
