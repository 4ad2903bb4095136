"""Spans, Spark job groups, status-tracker counts and event-log folding.

Every span the benchmark opens around a call into the program gets its
own Spark job group, so whatever Spark runs inside it can be found
again afterwards:

- from ``sparkContext.statusTracker()`` on every run: jobs, stages and
  tasks per span.  These counts are exact and repeat run to run.
- from Spark's event log on a traced run: task run time, CPU time,
  shuffle bytes, spill and the task time line per span.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float                   # epoch ms, comparable with task times
    end_ms: float = 0.0
    wall_s: float = 0.0
    children: list[str] = field(default_factory=list)


class Tracer:
    """In-memory spans; each one sets the job group of the jobs it runs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            # Garbage the previous calls left (Python objects and the JVM
            # references they hold) is collected here, outside the timing.
            gc.collect()
        sp = Span(id=f"pb{len(self.spans)}", name=name,
                  parent=parent.id if parent else None,
                  start_ms=time.time() * 1000.0)
        self.spans[sp.id] = sp
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        t0 = time.monotonic()
        try:
            yield sp
        finally:
            sp.wall_s = time.monotonic() - t0
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, span_id: str) -> list[str]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(self.spans[sid].children)
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start_ms": s.start_ms, "end_ms": s.end_ms,
                 "wall_s": s.wall_s} for s in self.spans.values()]


def tracker_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran tasks, and completed tasks of the given job
    groups, from the live status store.  A shuffle stage re-used by a
    later job keeps its id and is skipped there, so stages are counted
    once by id."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs: list[int] = []
    for g in groups:
        jobs.extend(st.getJobIdsForGroup(g))
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
class Task:
    stage: int
    launch_ms: float
    finish_ms: float
    run_ms: float
    cpu_s: float
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    tasks_by_group: dict[str, list[Task]]
    sql_by_group: dict[str, set[int]]
    stage_tasks: dict[int, int]


def read_event_log(directory: str) -> EventLog:
    """Fold an uncompressed event log into tasks per job group."""
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[Task]] = {}
    sql: dict[str, set[int]] = {}
    stage_tasks: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                info = ev["Stage Info"]
                if group:
                    stage_group[info["Stage ID"]] = group
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group, ex = props.get("spark.jobGroup.id"), props.get("spark.sql.execution.id")
                if group and ex is not None:
                    sql.setdefault(group, set()).add(int(ex))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                ti = ev["Task Info"]
                tasks.setdefault(group, []).append(Task(
                    stage=ev["Stage ID"],
                    launch_ms=float(ti["Launch Time"]),
                    finish_ms=float(ti["Finish Time"]),
                    run_ms=float(m["Executor Run Time"]),
                    cpu_s=m["Executor CPU Time"] / 1e9,
                    shuffle_write=int(m["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
                    spill=int(m["Memory Bytes Spilled"]) + int(m["Disk Bytes Spilled"]),
                ))
    return EventLog(tasks_by_group=tasks, sql_by_group=sql, stage_tasks=stage_tasks)


@dataclass
class SpanProfile:
    """What the event log says about one span and its descendants."""
    wall_s: float
    tasks: list[Task]
    sql_queries: int

    @property
    def task_cpu_s(self) -> float:
        return sum(t.cpu_s for t in self.tasks)

    @property
    def task_run_s(self) -> float:
        return sum(t.run_ms for t in self.tasks) / 1000.0

    @property
    def shuffle_write_mb(self) -> float:
        return sum(t.shuffle_write for t in self.tasks) / 1e6

    @property
    def spill_mb(self) -> float:
        return sum(t.spill for t in self.tasks) / 1e6

    def busy_s(self, start_ms: float, end_ms: float) -> float:
        """Time within [start, end] during which at least one task ran."""
        iv = sorted((max(t.launch_ms, start_ms), min(t.finish_ms, end_ms))
                    for t in self.tasks)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy / 1000.0

    def stage_skew(self, stages: set[int] | None = None) -> float:
        """Median over stages (of at least two tasks) of max / median
        task duration."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            if stages is None or t.stage in stages:
                by_stage.setdefault(t.stage, []).append(
                    max(t.finish_ms - t.launch_ms, 1.0))
        ratios = [max(d) / statistics.median(d)
                  for d in by_stage.values() if len(d) >= 2]
        return statistics.median(ratios) if ratios else 1.0


def profile(log: EventLog, tracer: Tracer, span_id: str) -> tuple[SpanProfile, float]:
    """The span's profile and its task-free time in seconds."""
    ids = tracer.subtree(span_id)
    tasks = [t for sid in ids for t in log.tasks_by_group.get(sid, [])]
    sql = set().union(*(log.sql_by_group.get(sid, set()) for sid in ids))
    sp = tracer.spans[span_id]
    prof = SpanProfile(wall_s=sp.wall_s, tasks=tasks, sql_queries=len(sql))
    taskless = sp.wall_s - prof.busy_s(sp.start_ms, sp.end_ms)
    return prof, max(taskless, 0.0)
