"""Spans around the engine's public entry points, and Spark event-log metrics.

Spans are kept in memory and written out when the run ends. They come only
from wrappers this file installs around the calls the benchmark makes into
each layer; nothing inside ``debezium_spark`` is edited. A span records its
name, start, end and parent; the parent is the innermost span open at the
moment the wrapped call starts. Spark's ``foreachBatch`` callbacks run on a
py4j thread while the main thread waits inside ``run_streaming*``, so the
open-span stack is shared by all threads rather than thread-local.

Spark job, stage and task metrics come from the event log that the traced
run's SparkSession writes (``spark.eventLog.*``). A job belongs to the
innermost span whose interval holds its submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def open(self, name: str, **attrs) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, time.time(),
                     parent=self._stack[-1] if self._stack else None, attrs=attrs)
            self.spans.append(s)
            self._stack.append(s.id)
        return s

    def close(self, s: Span) -> None:
        with self._lock:
            s.end = time.time()
            if s.id in self._stack:
                self._stack.remove(s.id)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def dump(self, path: str, log: "EventLog | None" = None) -> None:
        """One JSON line per span, with the Spark jobs attributed to it."""
        jobs = attribute(self, log) if log is not None else {}
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "attrs": s.attrs,
                    "jobs": [j.id for j in jobs.get(s.id, [])],
                }, default=str) + "\n")

    # ------------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper; ``on_result(span,
        args, kwargs, result)`` may record counts on the span."""
        orig = getattr(owner, attr)
        raw = owner.__dict__.get(attr, orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, raw))

    def install(self) -> None:
        """Spans around the public entry points of each layer."""
        from debezium_spark.functions import envelope
        from debezium_spark.operators import resolver
        from debezium_spark.plans.lake import LakeTable
        from debezium_spark.plans.registry import SchemaRegistry
        from debezium_spark.streaming.engine import CdcEngine

        for attr in ("run", "run_streaming", "run_streaming_stateful"):
            self.wrap(CdcEngine, attr, f"engine.{attr}")

        def merge_counts(s, args, kwargs, out):
            stats = kwargs.get("stats") or {}
            s.attrs["changed"] = int(stats.get("rows_applied", 0)) + int(
                stats.get("rows_deleted", 0)
            )
            s.attrs["touched"] = out.get("touched_buckets")

        self.wrap(LakeTable, "merge", "lake.merge", merge_counts)
        self.wrap(LakeTable, "commit_staged", "lake.commit_staged", merge_counts)
        for attr in ("stage_initial", "manifest", "read"):
            self.wrap(LakeTable, attr, f"lake.{attr}")
        # Each copy-on-write commit writes its manifest from inside merge();
        # the only way to see that cost from outside is the helper's span.
        if hasattr(LakeTable, "_commit_manifest"):
            self.wrap(LakeTable, "_commit_manifest", "lake.commit_manifest")
        self.wrap(SchemaRegistry, "apply_to_lake", "registry.apply_to_lake")
        self.wrap(resolver, "resolve_lww", "resolver.resolve_lww")
        self.wrap(envelope, "wrap_wal", "envelope.wrap_wal")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)


# ----------------------------------------------------------------- event log
def spark_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_tasks: dict[int, list[dict]]   # stage id -> task-end records
    stage_scopes: dict[int, str]         # stage id -> RDD scope names, joined
    progress: list[dict]                 # StreamingQueryProgress records
    files_read: list[tuple[float, int]]  # (SQL execution start, scan file bytes)

    @classmethod
    def read(cls, event_dir: str) -> "EventLog":
        files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
        jobs: dict[int, Job] = {}
        tasks: dict[int, list[dict]] = {}
        scopes: dict[int, str] = {}
        progress: list[dict] = []
        size_ids: dict[int, int] = {}        # accumulator id -> execution id
        exec_start: dict[int, float] = {}
        exec_bytes: dict[int, int] = {}
        for fn in files:
            with open(fn) as f:
                for line in f:
                    e = json.loads(line)
                    k = e["Event"]
                    if k == "SparkListenerJobStart":
                        jobs[e["Job ID"]] = Job(
                            e["Job ID"], e["Submission Time"] / 1000.0, 0.0, e["Stage IDs"]
                        )
                    elif k == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                    elif k == "SparkListenerTaskEnd":
                        m = e.get("Task Metrics") or {}
                        tasks.setdefault(e["Stage ID"], []).append({
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0),
                            "shuffle_r": sum(
                                (m.get("Shuffle Read Metrics") or {}).get(x, 0)
                                for x in ("Remote Bytes Read", "Local Bytes Read")
                            ),
                            "out_rows": (m.get("Output Metrics") or {}).get(
                                "Records Written", 0),
                        })
                    elif k == "SparkListenerStageSubmitted":
                        si = e["Stage Info"]
                        names = [si.get("Stage Name", "")]
                        for r in si.get("RDD Info", []):
                            names.append(r.get("Name", ""))
                            names.append(r.get("Scope") or "")
                        scopes[si["Stage ID"]] = " ".join(names)
                    elif k.endswith("StreamingQueryListener$QueryProgressEvent"):
                        progress.append(e["progress"])
                    elif k.endswith("SparkListenerSQLExecutionStart"):
                        exec_start[e["executionId"]] = e["time"] / 1000.0
                        for acc in _scan_size_accumulators(e.get("sparkPlanInfo") or {}):
                            size_ids[acc] = e["executionId"]
                    elif k.endswith("SparkListenerDriverAccumUpdates"):
                        for acc, v in e["accumUpdates"]:
                            if acc in size_ids:
                                x = size_ids[acc]
                                exec_bytes[x] = exec_bytes.get(x, 0) + v
        for j in jobs.values():
            j.end = j.end or j.submit
        files_read = [(exec_start[x], b) for x, b in exec_bytes.items() if x in exec_start]
        return cls(jobs, tasks, scopes, progress, files_read)

    def jobs_in(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.submit <= t1]

    def files_read_in(self, t0: float, t1: float) -> int:
        """Bytes of input files opened by SQL executions started in [t0, t1]
        (the scans' "size of files read" metric)."""
        return sum(b for t, b in self.files_read if t0 <= t <= t1)

    def tasks_of(self, jobs: list[Job]) -> list[dict]:
        return [t for j in jobs for sid in j.stages for t in self.stage_tasks.get(sid, [])]


def _scan_size_accumulators(node: dict):
    for m in node.get("metrics", []):
        if m.get("name") == "size of files read":
            yield m["accumulatorId"]
    for child in node.get("children", []):
        yield from _scan_size_accumulators(child)


def attribute(tracer: Tracer, log: EventLog) -> dict[int, list[Job]]:
    """span id -> jobs whose submission falls inside it and in no child."""
    out: dict[int, list[Job]] = {}
    closed = [s for s in tracer.spans if s.end]
    for j in log.jobs.values():
        best = None
        for s in closed:
            if s.start <= j.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(j)
    return out


def union_len(intervals: list[tuple[float, float]]) -> float:
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


def driver_serial(log: EventLog, span: Span) -> float:
    """Span wall time not covered by any Spark job submitted inside it."""
    iv = [(max(j.submit, span.start), min(j.end, span.end)) for j in log.jobs_in(span.start, span.end)]
    return span.dur - union_len(iv)
