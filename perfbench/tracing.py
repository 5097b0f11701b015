"""Tracing for the traced run, all from outside the program.

* ``Tracer`` records spans (name, start, end, parent) around each layer
  call the benchmark makes and keeps them in memory until the run ends.
* ``group_counts`` reads Spark's public ``statusTracker`` for the jobs,
  stages and tasks of one job group (one group per operation; a
  streaming drain's jobs run under its query's run id).
* ``EventLog`` parses the uncompressed Spark event log written during the
  run: task time, CPU, GC, shuffle, spill and input bytes per job group,
  and the wall time of write executions.
* ``DrainListener`` is a ``StreamingQueryListener`` collecting the
  micro-batch progress of each drain.

Known blind spot of the alternative: ``observability.collect_plan_metrics``
walks only the final executed plan of a DataFrame, so it misses side jobs
such as eager checkpoints and size-probe ``count()``s. Job-group and
event-log totals include them, so they are the primary source here.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory spans; ``enabled=False`` makes ``span`` a bare yield."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), float("nan"), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for i, s in enumerate(self.spans)
        ]


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, and completed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


@dataclass
class GroupTotals:
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    write_s: float = 0.0


@dataclass
class EventLog:
    """Per-job-group totals from one application's event log."""

    groups: dict[str, GroupTotals] = field(default_factory=dict)

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        exec_start: dict[int, tuple[int, bool]] = {}
        out = cls()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group, ex = props.get("spark.jobGroup.id"), props.get("spark.sql.execution.id")
                    if group and ex is not None:
                        exec_group.setdefault(int(ex), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out.groups.setdefault(group, GroupTotals())
                    g.task_s += m["Executor Run Time"] / 1e3
                    g.cpu_s += m["Executor CPU Time"] / 1e9
                    g.gc_s += m["JVM GC Time"] / 1e3
                    g.spill_bytes += m["Disk Bytes Spilled"]
                    g.input_bytes += m["Input Metrics"]["Bytes Read"]
                    g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    r = m["Shuffle Read Metrics"]
                    g.shuffle_read_bytes += r["Remote Bytes Read"] + r["Local Bytes Read"]
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan = ev.get("physicalPlanDescription", "").splitlines()
                    root = plan[1] if len(plan) > 1 else ""
                    exec_start[ev["executionId"]] = (ev["time"], "InsertInto" in root)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    start, is_write = exec_start.get(ev["executionId"], (None, False))
                    group = exec_group.get(ev["executionId"])
                    if is_write and group is not None:
                        g = out.groups.setdefault(group, GroupTotals())
                        g.write_s += (ev["time"] - start) / 1e3
        return out

    def total(self, groups: list[str]) -> GroupTotals:
        t = GroupTotals()
        for name in groups:
            g = self.groups.get(name)
            if g is not None:
                for k, v in vars(g).items():
                    setattr(t, k, getattr(t, k) + v)
        return t


class DrainListener(StreamingQueryListener):
    """Collects micro-batch progress per streaming run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: dict[str, list[tuple[int, int, int]]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.progress.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(
                (p.batchId, p.numInputRows, p.durationMs.get("triggerExecution", 0))
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def batches(self, run_id: str, timeout: float = 10.0) -> list[tuple[int, int, int]]:
        """Progress of a finished run, waiting for the listener bus to
        deliver its termination event."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if run_id in self.terminated:
                    return list(self.progress.get(run_id, []))
            time.sleep(0.02)
        raise TimeoutError(f"no termination event for streaming run {run_id}")
