"""Tracing for the benchmark: in-memory spans and Spark event-log totals.

Spans are recorded by the benchmark's own code around its calls into
the program (session start, warm-up, each micro-batch's sink and
dead-letter writes, each query's build and write).  They stay in
memory and are written to the sidecar when the run ends.

Spark's work is read offline from the uncompressed event log
(``spark.eventLog.compress=false``): every task's metrics are summed
per job, and each job is keyed by the local properties it ran under —
the streaming engine's ``streaming.sql.batchId`` and the benchmark's
own ``perfbench.layer`` tag, set around each writer and query.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

LAYER_KEY = "perfbench.layer"
BATCH_KEY = "streaming.sql.batchId"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans of one run; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record the block as a child of the enclosing span; yields the
        span's index, for spans added later under it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id, attrs))
        self._stack.append(len(self.spans) - 1)
        try:
            yield self._stack[-1]
        finally:
            self.spans[self._stack.pop()].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. from streaming progress)."""
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs))
        return len(self.spans) - 1

    def records(self) -> list[dict]:
        """Spans with their self time: duration minus the part of the
        interval covered by child spans."""
        covered: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent].append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            busy, last = 0.0, s.start
            for a, b in sorted(covered[i]):
                a, b = max(a, last), min(b, s.end)
                if b > a:
                    busy += b - a
                    last = b
            out.append({
                "id": i, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end,
                "duration_s": s.end - s.start, "self_s": s.end - s.start - busy,
                **({"attrs": s.attrs} if s.attrs else {}),
            })
        return out


@dataclass
class JobTotals:
    """Summed task metrics of one Spark job."""

    props: dict
    tasks: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # per stage: [cpu_ms, shuffle_write_bytes]
    stages: dict = field(default_factory=lambda: defaultdict(lambda: [0.0, 0]))


def read_event_log(directory: Path) -> list[JobTotals]:
    """Per-job task totals from every event-log file under ``directory``."""
    jobs: dict[int, JobTotals] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(p for p in directory.rglob("*") if p.is_file()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = JobTotals(props=ev.get("Properties") or {})
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or m is None:
                        continue
                    j = jobs[jid]
                    cpu = m.get("Executor CPU Time", 0) / 1e6
                    wrote = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j.tasks += 1
                    j.cpu_ms += cpu
                    j.gc_ms += m.get("JVM GC Time", 0)
                    j.shuffle_write_bytes += wrote
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage = j.stages[ev["Stage ID"]]
                    stage[0] += cpu
                    stage[1] += wrote
    return list(jobs.values())


def event_log_conf(directory: Path) -> dict[str, str]:
    """Session settings that write one uncompressed event-log file."""
    directory.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@contextmanager
def layer_tag(sc, value: str, enabled: bool):
    """Tag the Spark jobs started inside the block with ``value``."""
    if not enabled:
        yield
        return
    previous = sc.getLocalProperty(LAYER_KEY)
    sc.setLocalProperty(LAYER_KEY, value)
    try:
        yield
    finally:
        sc.setLocalProperty(LAYER_KEY, previous)
