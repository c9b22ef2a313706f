"""Spans around calls into the program, and Spark event-log attribution.

Each span runs under its own, never reused, Spark job group, so the
event log attributes every job (and its stages and tasks) to exactly
one span. The log is parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "driver_gap_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


@dataclass
class Span:
    name: str
    group: str
    start_ms: float  # wall clock, comparable with event-log timestamps
    end_ms: float

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Records the spans of one traced iteration."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._run = uuid.uuid4().hex[:8]
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        group = f"bench-{self._run}-{len(self.spans)}-{name}"
        self._sc.setJobGroup(group, name)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            self._sc.setJobGroup(f"bench-{self._run}-idle", "idle")
            self.spans.append(Span(name, group, start, end))


def enable_event_log(builder_conf: dict, log_dir: str) -> None:
    os.makedirs(log_dir, exist_ok=True)
    builder_conf["spark.eventLog.enabled"] = "true"
    builder_conf["spark.eventLog.dir"] = log_dir
    builder_conf["spark.eventLog.compress"] = "false"


def _event_files(log_dir: str) -> list[str]:
    # Spark 4 may write a rolling directory (eventlog_v2_<app>/events_*)
    # or one flat file per application
    out = []
    for entry in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, entry)
        if os.path.isdir(full):
            out += [os.path.join(full, f) for f in sorted(os.listdir(full)) if f.startswith("events")]
        else:
            out.append(full)
    return out


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = {}

    def group_of(job_id: int) -> dict | None:
        job = jobs.get(job_id)
        return groups.setdefault(job["group"], _empty_group()) if job else None

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "start": ev["Submission Time"],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    job = jobs[ev["Job ID"]]
                    g = group_of(ev["Job ID"])
                    g["jobs"] += 1
                    g["intervals"].append((job["start"], ev["Completion Time"]))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = group_of(stage_job.get(sid, -1))
                    if g is not None:
                        g["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = group_of(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return groups


def _empty_group() -> dict:
    g = {k: 0 for k in SPARK_METRICS if k != "driver_gap_s"}
    g["intervals"] = []
    return g


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


def spark_totals(spans: list[Span], groups: dict[str, dict]) -> dict[str, float]:
    """Spark metrics summed over ``spans``; the driver gap of a span is
    its wall time during which none of its jobs was running."""
    out = {k: 0.0 for k in SPARK_METRICS}
    for sp in spans:
        g = groups.get(sp.group) or _empty_group()
        for k in SPARK_METRICS:
            if k != "driver_gap_s":
                out[k] += g[k]
        covered = _covered_ms(g["intervals"], sp.start_ms, sp.end_ms)
        out["driver_gap_s"] += (sp.end_ms - sp.start_ms - covered) / 1000.0
    return out
