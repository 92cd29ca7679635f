"""Spans, self-time arithmetic and the Spark event-log parser.

Spans are recorded in memory by the benchmark's own code around each call
into a layer (setup, op, cleanup/call/action, wave, sink, probe, ...) and
written out when the run ends. The event log that a traced run enables is
parsed offline into per-job-group job, stage and task figures; the
benchmark names each driver-side job group ``<workload>:<pass>:<op>:<phase>``
and a streaming query's jobs carry the query's own run id as their group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float  # epoch seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. Spans nest through a stack: a span opened
    inside another is its child."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(t0: float, t1: float, intervals) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span], job_intervals=()) -> float:
    """A span's duration minus the part of it covered by its child spans
    and by Spark jobs."""
    ivs = [(c.t0, c.t1) for c in children] + list(job_intervals)
    return span.dur - covered(span.t0, span.t1, ivs)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks", "task_run_s",
    "task_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_wait_s",
)


def parse_event_log(lines) -> dict[str, dict]:
    """{job group: {counter: value, "job_intervals": [(start_s, end_s)]}}
    from the JSON lines of one or more Spark event logs.

    A stage counts for the first job that lists it; a listed stage that is
    never submitted is skipped (its output was reused). ``task_wait_s`` is
    the time each task waited between its stage's submission and its own
    launch, summed over tasks.
    """
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple, float] = {}
    submitted: set[int] = set()
    tasks: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            jobs[jid] = {"group": group, "t0": ev["Submission Time"] / 1e3,
                         "t1": None, "stages": ev.get("Stage IDs", [])}
            for sid in jobs[jid]["stages"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            submitted.add(info["Stage ID"])
            if info.get("Submission Time") is not None:
                stage_submit[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                    info["Submission Time"] / 1e3
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    out: dict[str, dict] = defaultdict(lambda: {**{c: 0 for c in COUNTERS}, "job_intervals": []})
    for job in jobs.values():
        g = out[job["group"]]
        g["jobs"] += 1
        if job["t1"] is not None:
            g["job_intervals"].append((job["t0"], job["t1"]))
    for sid, group in stage_group.items():
        out[group]["stages" if sid in submitted else "skipped_stages"] += 1
    for ev in tasks:
        sid = ev["Stage ID"]
        g = out[stage_group.get(sid, "")]
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
        g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sub = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
        if sub is not None and info.get("Launch Time"):
            g["task_wait_s"] += max(info["Launch Time"] / 1e3 - sub, 0.0)
    return dict(out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as f:
                lines.extend(line for line in f if line.strip())
    return parse_event_log(lines)


def merge_groups(stats: dict[str, dict], groups) -> dict:
    """Sum the counters (and concatenate job intervals) of ``groups``."""
    out = {**{c: 0 for c in COUNTERS}, "job_intervals": []}
    for g in groups:
        s = stats.get(g)
        if s is None:
            continue
        for c in COUNTERS:
            out[c] += s[c]
        out["job_intervals"].extend(s["job_intervals"])
    return out
