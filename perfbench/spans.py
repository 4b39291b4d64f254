"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent and the traced job it
belongs to. Every Spark job started inside a span runs under that span's
job group, so the span's Spark jobs, tasks and failed tasks are read
back from ``statusTracker``. A span that materializes a DataFrame also
records rows, bytes and shuffle bytes from that DataFrame's executed
plan (``plan_metrics``). Spans stay in memory until ``resolve``.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

#: executed-plan node classes whose ``numOutputRows`` count a join's output.
JOIN_NODES = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
              "BroadcastNestedLoopJoinExec", "CartesianProductExec")


@dataclass
class Span:
    name: str
    job: str
    group: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans for one traced job at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job: str):
        idx = len(self.spans)
        sp = Span(name, job, f"perfbench-{idx}", self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def self_seconds(self, idx: int) -> float:
        """The span's duration minus what its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == idx)
        return self.spans[idx].seconds - kids

    def resolve(self, timeout: float = 10.0) -> None:
        """Fill each span's ``jobs``, ``tasks`` and ``failed_tasks`` from the
        status tracker, once every job it started has finished."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        for sp in self.spans:
            if "jobs" in sp.counts:
                continue
            while True:
                jids = list(st.getJobIdsForGroup(sp.group))
                infos = [st.getJobInfo(j) for j in jids]
                done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
                if done or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            tasks = failed = 0
            for info in infos:
                for sid in list(info.stageIds) if info is not None else []:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks + stage.numFailedTasks
                        failed += stage.numFailedTasks
            sp.counts.update(jobs=len(jids), tasks=tasks, failed_tasks=failed)

    def table(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "job": s.job,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "seconds": s.seconds,
                "self_seconds": self.self_seconds(i),
                **s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


def _scala_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(plan) -> list[tuple[str, dict[str, int]]]:
    """(class name, SQL metrics) of every node of an executed plan, walking
    through adaptive plans and query stages. A reused exchange is not
    descended into: its subtree is counted where it first appears."""
    out = []
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        out.append((cls, _scala_metrics(node)))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls != "ReusedExchangeExec":
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def plan_metrics(df) -> dict[str, int]:
    """Rows out, scan rows and bytes, shuffle bytes and join output rows
    from ``df``'s executed plan, read after ``df`` itself has run
    (``materialize``, ``toPandas`` or ``localCheckpoint``)."""
    nodes = plan_nodes(df._jdf.queryExecution().executedPlan())

    def total(classes, metric):
        return sum(m.get(metric, 0) for c, m in nodes if c in classes)

    rows = next((m["numOutputRows"] for _, m in nodes if "numOutputRows" in m), 0)
    return {
        "rows": rows,
        "scan_rows": total(("FileSourceScanExec",), "numOutputRows"),
        "scan_bytes": total(("FileSourceScanExec",), "filesSize"),
        "shuffle_bytes": total(("ShuffleExchangeExec",), "shuffleBytesWritten"),
        "join_rows": total(JOIN_NODES, "numOutputRows"),
    }


def materialize(df) -> dict[str, int]:
    """Run ``df``'s own executed plan and drop its rows: the null sink.

    The ``noop`` writer plans a fresh query whose metrics cannot be read
    back from ``df``, so this counts the rows of ``df``'s physical plan
    instead; the work done is the same and nothing is written."""
    rows = df._jdf.queryExecution().toRdd().count()
    return {**plan_metrics(df), "rows": rows}
