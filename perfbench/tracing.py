"""Per-layer tracing from outside the engine.

Spans wrap the public calls into each layer (instance methods of one
``Replayer`` and one ``SnapshotTable``, plus the benchmark's own read
scan). Each span sets a Spark job group while it is open, so every job
it launches carries the span's id; the Spark event log then attributes
task metrics to spans offline. Nothing here changes engine code.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext

GROUP_PREFIX = "perfbench-span-"

SPANS = (
    "replay.run",
    "replay.apply_batch",
    "table.merge",
    "table.maintain",
    "table.compact",
    "table.tombstone_stats",
    "table.read",
    "table.snapshot",
    "table.applied_epochs",
)
REPLAYER_METHODS = {"run": "replay.run", "apply_batch": "replay.apply_batch"}
TABLE_METHODS = {
    "merge": "table.merge",
    "maintain": "table.maintain",
    "compact": "table.compact",
    "tombstone_stats": "table.tombstone_stats",
    "snapshot": "table.snapshot",
    "applied_epochs": "table.applied_epochs",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # time.time(), comparable with event-log millis
    end: float = 0.0
    kwargs: dict = field(default_factory=dict)
    result: object = None


class Tracer:
    """Records nested spans in memory; one Spark job group per span.
    Installed wrappers record only while ``active`` is set."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **kwargs):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            start=time.time(),
            kwargs=kwargs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{outer.id}", outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, obj, method: str, name: str) -> None:
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            if not self.active:
                return inner(*args, **kwargs)
            with self.span(name, **kwargs) as s:
                s.result = inner(*args, **kwargs)
                return s.result

        # an instance attribute shadows the class method, so the
        # engine's own self.<method>() calls are traced too
        setattr(obj, method, traced)

    @contextmanager
    def paused(self):
        """The benchmark's own bookkeeping calls, left out of the trace."""
        self.active = False
        try:
            yield
        finally:
            self.active = True

    def install(self, replayer, table) -> None:
        for method, name in REPLAYER_METHODS.items():
            self._wrap(replayer, method, name)
        for method, name in TABLE_METHODS.items():
            self._wrap(table, method, name)


# ----------------------------------------------------------- event log
@dataclass
class JobRecord:
    group: str | None
    start: float
    end: float


TASK_FIELDS = ("task_s", "cpu_s", "deser_s", "jvm_gc_s", "shuffle_write_mb", "shuffle_read_mb", "tasks")


def read_event_log(log_dir: str) -> tuple[dict[int, JobRecord], dict[str, dict[str, float]]]:
    """Jobs by id, and summed task metrics per job group, from the one
    uncompressed application log under ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs: dict[int, JobRecord] = {}
    stage_group: dict[int, str | None] = {}
    per_group: dict[str, dict[str, float]] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = JobRecord(group, ev["Submission Time"] / 1000, 0.0)
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                # the submitting job's properties: exact owner of the stage
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                acc = per_group.setdefault(group, dict.fromkeys(TASK_FIELDS, 0.0))
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
                acc["tasks"] += 1
    return jobs, per_group


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(spans: list[Span], jobs: dict[int, JobRecord], per_group: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Per span name: calls, wall/self/driver seconds, own job count and
    summed task metrics. A job belongs to the innermost open span."""
    jobs_by_span: dict[int, list[JobRecord]] = {}
    for j in jobs.values():
        if j.group and j.group.startswith(GROUP_PREFIX):
            jobs_by_span.setdefault(int(j.group[len(GROUP_PREFIX):]), []).append(j)
    child_wall: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + (s.end - s.start)
    out = {
        name: {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "driver_s": 0.0, **dict.fromkeys(TASK_FIELDS, 0.0)}
        for name in SPANS
    }
    for s in spans:
        acc = out[s.name]
        wall = s.end - s.start
        self_s = wall - child_wall.get(s.id, 0.0)
        own = jobs_by_span.get(s.id, [])
        busy = _union_length([(max(j.start, s.start), min(j.end, s.end)) for j in own if j.end > j.start])
        acc["calls"] += 1
        acc["wall_s"] += wall
        acc["self_s"] += self_s
        acc["jobs"] += len(own)
        acc["driver_s"] += max(0.0, self_s - busy)
        for k, v in per_group.get(f"{GROUP_PREFIX}{s.id}", {}).items():
            acc[k] += v
    return out


def subtree_jobs(spans: list[Span], jobs: dict[int, JobRecord], root_name: str) -> int:
    """Jobs launched inside any span named ``root_name``, children included."""
    roots = {s.id for s in spans if s.name == root_name}
    inside: set[int] = set()
    for s in spans:  # spans are recorded in start order, parents first
        if s.id in roots or s.parent in inside:
            inside.add(s.id)
    return sum(
        1 for j in jobs.values()
        if j.group and j.group.startswith(GROUP_PREFIX) and int(j.group[len(GROUP_PREFIX):]) in inside
    )
