"""Spans around calls into the engine's layers, and the Spark event-log
fold that attributes every Spark job to exactly one span.

A span is opened by the benchmark around one call into one layer
(``operators.sqlsurface.exec``, ``sources.snapshot.merge``, ...). In a
traced run each span tags the jobs it triggers with its own job group
(``setJobGroup``); streaming jobs carry the query's run id as their job
group instead, so a span that starts a stream registers that run id.
After ``spark.stop()`` the uncompressed event log is parsed once and
each job's stages and tasks are folded into the span that owns it.

With tracing off, ``span`` still measures wall time (the benchmark's
own op latencies come from it) but sets no job group and the event log
is never enabled.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Stage accumulables folded into each span. Internal task metrics are
# named by Spark; SQL metrics (the Python-worker ones) by display name.
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_total_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}
SPAN_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    *sorted({v[0] for v in _STAGE_ACCUMS.values()}),
)


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    stream_run_ids: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Holds every span of one run in memory; ``fold_event_log`` and
    ``to_records`` are called once, after the Spark session stopped."""

    GROUP_PREFIX = "perfbench-span-"

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once the SparkContext exists
        self.unattributed_jobs: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(
            sid=len(self.spans),
            name=name,
            op=op,
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        tag = self.enabled and self.sc is not None
        if tag:
            self.sc.setJobGroup(f"{self.GROUP_PREFIX}{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if tag:
                if parent is not None:
                    self.sc.setJobGroup(
                        f"{self.GROUP_PREFIX}{parent.sid}", parent.name
                    )
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    # -- event log ---------------------------------------------------------
    def fold_event_log(self, path: str) -> None:
        """Attribute every job in the event log to one span and add its
        stage and task metrics to that span's counters."""
        by_group = {f"{self.GROUP_PREFIX}{s.sid}": s for s in self.spans}
        by_run = {r: s for s in self.spans for r in s.stream_run_ids}
        stage_owner: dict[int, Span] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    owner = by_group.get(group) or by_run.get(group)
                    if owner is None:
                        props = ev.get("Properties") or {}
                        self.unattributed_jobs.append(
                            {
                                "job": ev["Job ID"],
                                "group": group,
                                "description": props.get("spark.job.description"),
                                "call_site": props.get("callSite.short"),
                            }
                        )
                        continue
                    _add(owner, "jobs", 1)
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, owner)
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_owner.get(ev["Stage ID"])
                    if owner is not None:
                        _add(owner, "tasks", 1)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    owner = stage_owner.get(info["Stage ID"])
                    if owner is None:
                        continue
                    _add(owner, "stages", 1)
                    for acc in info.get("Accumulables", []):
                        hit = _STAGE_ACCUMS.get(acc.get("Name"))
                        if hit is None:
                            continue
                        try:
                            value = float(acc["Value"])
                        except (KeyError, TypeError, ValueError):
                            continue
                        _add(owner, hit[0], value * hit[1])

    def self_seconds(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.seconds
        return {s.sid: s.seconds - child_time[s.sid] for s in self.spans}

    def to_records(self) -> list[dict]:
        self_s = self.self_seconds()
        return [
            {
                "id": s.sid,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self_s": round(self_s[s.sid], 6),
                **({"stream_run_ids": s.stream_run_ids} if s.stream_run_ids else {}),
                **s.counters,
            }
            for s in self.spans
        ]


def _add(span: Span, key: str, value: float) -> None:
    span.counters[key] = span.counters.get(key, 0) + value


def find_event_log(log_dir: str) -> str:
    """The single uncompressed application log Spark wrote."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])
