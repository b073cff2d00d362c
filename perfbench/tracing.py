"""Spans around calls into the engine's layers, with Spark's own counters.

A :class:`Tracer` records one :class:`Span` per ``with tracer.span(name)``
block: name, start, end, parent and run id. While a span is open its Spark
jobs run under a job group named after the span, so after it closes the
span's jobs, stages, tasks and executor metrics are read back from the
application status store (``statusStore().job/stageData``), and its SQL
operator metrics (Python-worker time and bytes, file-scan bytes and rows)
from the SQL status store (``executionMetrics``). Both stores are fed with
the UI disabled. Spans are kept in memory and written out once, at exit.

A disabled tracer (``Tracer(None)``) records nothing and sets no job group,
so the untraced run pays only a context-manager entry per call.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric name -> span counter. The Python-worker metrics appear on every
# Python exec node (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas,
# FlatMapCoGroupsInPandas, ...), so they are matched by metric name.
_PY_METRICS = {
    "time to start Python workers": "python.worker_boot_s",
    "time to initialize Python workers": "python.worker_boot_s",
    "time to run Python workers": "python.worker_run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_SCAN_METRICS = {
    "size of files read": "catalog.scan_bytes",
    "number of output rows": "catalog.scan_rows",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_LABEL = re.compile(r'label="(.*?)"', re.S)
_NODE = re.compile(r"<b>(.*?)</b>")
_VALUE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric (``'2.2 s'``, ``'189.1 KiB'``,
    ``'1,234'``, or the multi-task ``'total (min, ...)\\n2.2 s (...)'``
    form), in seconds, bytes or plain count."""
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    # (submitted, completed) of each stage the span's jobs ran, epoch seconds
    stages: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of *intervals*, which may overlap."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """*span*'s duration minus the part of it that its children cover
    (children may overlap each other; their union is subtracted)."""
    return span.duration - covered(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    )


class SparkCounters:
    """Reads one job group's counters from the status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last_exec = self._max_execution_id()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._list(self._sql.executionsList(int(n) - 1, 1))[0].executionId())

    def begin(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def end(self, group: str, parent_group: str | None) -> tuple[dict, list]:
        """Counters and stage intervals of the jobs run under *group*;
        restores *parent_group*."""
        # listener events are delivered asynchronously: drain them first
        self._bus.waitUntilEmpty()
        if parent_group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(parent_group, parent_group)
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        stages: list[tuple[float, float]] = []
        c = self._stage_counters(job_ids, stages)
        self._sql_counters(set(job_ids), c)
        return dict(c), stages

    def task_cpu_s(self, group: str) -> float:
        """CPU seconds of the tasks of the jobs run under *group*."""
        self._bus.waitUntilEmpty()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        return self._stage_counters(job_ids).get("spark.executor_cpu_s", 0.0)

    def _stage_counters(self, job_ids: list[int], stages: list | None = None) -> dict[str, float]:
        c: dict[str, float] = defaultdict(float)
        c["jobs"] = len(job_ids)
        empty_q = self._sc._gateway.new_array(self._jvm.double, 0)
        seen: set[int] = set()
        ran: set[int] = set()
        refs = 0
        for jid in job_ids:
            jd = self._store.job(jid)
            c["spark.tasks"] += jd.numCompletedTasks()
            sids = self._list(jd.stageIds())
            refs += len(sids)
            for sid in sids:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._list(self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, empty_q
                ))
                for sd in attempts:
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    ran.add(sid)
                    c["spark.stages_executed"] += 1
                    c["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                    c["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["spark.gc_s"] += sd.jvmGcTime() / 1e3
                    c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spark.spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
                    if stages is not None and sd.completionTime().isDefined():
                        stages.append((
                            sd.submissionTime().get().getTime() / 1e3,
                            sd.completionTime().get().getTime() / 1e3,
                        ))
        # A stage of a job is skipped when it did not run for that job. Not
        # the status store's per-job count: that one depends on whether a
        # shared stage was still running when the next job started.
        c["spark.stages_skipped"] = refs - len(ran)
        return c

    def _sql_counters(self, job_ids: set[int], c: dict[str, float]) -> None:
        """Operator metrics of the SQL executions started since the last
        call whose jobs belong to the span's group."""
        n = int(self._sql.executionsCount())
        k = 16
        while True:  # the newest executions are at the end of the list
            off = max(0, n - k)
            batch = self._list(self._sql.executionsList(off, n - off)) if n else []
            if off == 0 or batch[0].executionId() <= self._last_exec:
                break
            k *= 4
        new = [e for e in batch if e.executionId() > self._last_exec]
        if new:
            self._last_exec = max(int(e.executionId()) for e in new)
        for e in new:
            if not job_ids & set(self._list(e.jobs().keys().toSeq())):
                continue
            eid = e.executionId()
            # one call renders every node with its metric values
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for label in _LABEL.findall(dot):
                name = _NODE.search(label)
                scan = name is not None and name.group(1).startswith("Scan ")
                for item in label.replace("\\n", "\n").split("<br>"):
                    metric, _, value = item.partition(": ")
                    key = _PY_METRICS.get(metric) or (
                        _SCAN_METRICS.get(metric) if scan else None
                    )
                    if key is not None:
                        c[key] += parse_metric(value)


class Tracer:
    """Span recorder; ``Tracer(None)`` is the disabled (untraced) form."""

    def __init__(self, spark, run_id: str = "run"):
        self.enabled = spark is not None
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counters = SparkCounters(spark) if self.enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp.span_id}"
        self._counters.begin(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            parent_group = f"{self.run_id}/{parent.span_id}" if parent else None
            sp.counters, sp.stages = self._counters.end(group, parent_group)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run_id": s.run_id, "span_id": s.span_id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self_time(s, self.children(s)),
                    "counters": s.counters, "stages": s.stages,
                }) + "\n")
