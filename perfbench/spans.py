"""Spans and Spark metrics for the traced run.

A :class:`Tracer` wraps public package functions from outside the package
(module attributes are swapped for the life of the tracer and restored on
``close``). Each wrapped call records a span ``(name, start, end, parent,
iteration)`` and runs under a Spark job group of its own, so the jobs a
call launches can be found again in Spark's status store afterwards. Spans
stay in memory; :meth:`Tracer.report` reads the status store once, at the
end, and returns the spans with their Spark totals.

The status store serves stage and SQL metrics with the UI disabled, so the
tracer needs no session setting.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

_JOB_GROUP = "spark.jobGroup.id"
_JOB_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    iteration: int
    end: float = 0.0
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.iteration = 0
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent.sid if parent else None, self.iteration)
        s.group = f"perfbench-{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty(_JOB_GROUP, None)
                self.sc.setLocalProperty(_JOB_DESC, None)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records span ``name``."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def capture(self, module, attr: str, sink: dict, key: str) -> None:
        """Replace ``module.attr`` by a wrapper that keeps the DataFrame it
        returns under ``sink[key]`` and its first argument under
        ``sink[key + ".input"]`` (no span: plan construction is lazy)."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            out = orig(*args, **kwargs)
            sink[key] = out
            sink[f"{key}.input"] = args[0] if args else None
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- status store -----------------------------------------------------
    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def spark_totals(self, groups: list[str]) -> dict:
        """Stage totals over every job launched under ``groups``."""
        store = self.sc._jsc.sc().statusStore()
        jobs, stages = 0, set()
        for g in groups:
            for j in self.job_ids(g):
                jobs += 1
                stages.update(int(x) for x in _items(store.job(j).stageIds()))
        tot = {
            "jobs": jobs, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
        }
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            done = int(sd.numCompleteTasks())
            if not done:  # skipped stage: its output was reused
                continue
            tot["stages"] += 1
            tot["tasks"] += done
            tot["task_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return tot

    def _plans(self, groups: list[str]):
        """(plan nodes, metric values) of each SQL execution that ran a
        job under ``groups``."""
        jobs = {j for g in groups for j in self.job_ids(g)}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _items(sql.executionsList()):
            if any(int(j) in jobs for j in _items(e.jobs().keys())):
                nodes = list(_items(sql.planGraph(e.executionId()).allNodes()))
                yield nodes, sql.executionMetrics(e.executionId())

    @staticmethod
    def _rows(node, values) -> int | None:
        for m in _items(node.metrics()):
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                return _metric_total(v.get()) if v.isDefined() else 0
        return None

    def sql_node_rows(self, groups: list[str], names: tuple[str, ...], desc: str = "") -> int:
        """Sum of "number of output rows" over plan nodes named in ``names``
        (whose description contains ``desc``) in the SQL executions whose
        jobs ran under ``groups``."""
        return sum(
            self._rows(n, values) or 0
            for nodes, values in self._plans(groups)
            for n in nodes
            if n.name() in names and desc in n.desc()
        )

    def persisted(self) -> tuple[int, float]:
        """(cached RDD count, cached MB) held by the session right now."""
        n, mb = 0, 0.0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            n += 1
            mb += (info.memSize() + info.diskSize()) / 2**20
        return n, mb

    def report(self) -> list[dict]:
        """Spans with self-time and their own Spark totals."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        out = []
        for s in self.spans:
            out.append({
                "id": s.sid, "name": s.name, "parent": s.parent,
                "iteration": s.iteration, "start": s.start, "end": s.end,
                "duration_s": s.duration,
                "self_s": s.duration - child_time.get(s.sid, 0.0),
                "spark": self.spark_totals([s.group]),
            })
        return out


def _items(seq):
    """Iterate a JVM (Scala or Java) collection."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_NUM = re.compile(r"[\d,]+")


def _metric_total(text: str) -> int:
    """A SQL metric string is either ``"1,000"`` or ``"total (min, med,
    max ...)\\n1,000 (...)"``; the total is the first number of the last
    line."""
    m = _NUM.search(text.strip().splitlines()[-1])
    return int(m.group(0).replace(",", "")) if m else 0
