"""Spans, Spark job groups, event-log attribution and /proc CPU.

A span records (name, start, end, parent, call id). Spans live in memory
and are written to the run directory when the run ends. In a traced span
every Spark job the wrapped call launches carries the span's job group,
so the event log can be split per call afterwards: jobs, job time, tasks,
shuffle, spill and GC. Nothing inside the package is instrumented; spans
wrap the benchmark's own calls into the package's public functions.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    call_id: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    cpu: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; when enabled also tags Spark jobs with a job
    group per span and samples process CPU around it. Untraced spans cost
    two clock reads."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, call_id: str):
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, call_id, 0.0, parent=parent)
        if self.enabled:
            sp.group = f"pb:{call_id}:{name}"
            self.sc.setJobGroup(sp.group, sp.group)
            sp.cpu = proc_cpu_seconds()
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                after = proc_cpu_seconds()
                sp.cpu = {k: after[k] - sp.cpu.get(k, 0.0) for k in after}
                outer = self._stack[-1].group if self._stack else "pb:other"
                self.sc.setJobGroup(outer, outer)
            self.spans.append(sp)

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")


def proc_cpu_seconds() -> dict:
    """utime+stime of the Spark JVMs and of python processes other than
    this driver (the Arrow UDF workers)."""
    hz = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    out = {"jvm": 0.0, "python": 0.0}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                head, tail = fh.read().rsplit(") ", 1)
        except OSError:
            continue
        comm = head.split(" (", 1)[1]
        fields = tail.split()
        cpu = (int(fields[11]) + int(fields[12])) / hz
        pid = int(head.split(" ", 1)[0])
        if comm.startswith("java"):
            out["jvm"] += cpu
        elif comm.startswith("python") and pid != me:
            out["python"] += cpu
    return out


def jvm_hwm_mb() -> float:
    """Peak resident set (VmHWM) of the largest running java process."""
    best = 0.0
    for status in glob.glob("/proc/[0-9]*/status"):
        try:
            with open(status) as fh:
                text = fh.read()
        except OSError:
            continue
        if "\nName:\tjava" not in "\n" + text:
            continue
        for line in text.splitlines():
            if line.startswith("VmHWM:"):
                best = max(best, int(line.split()[1]) / 1024.0)
    return best


# --- event log ----------------------------------------------------------------


def _event_files(log_dir: Path) -> list[str]:
    files = []
    for p in sorted(glob.glob(str(log_dir / "*"))):
        if os.path.isdir(p):  # rolling logs: one directory per application
            files.extend(
                f for f in sorted(glob.glob(os.path.join(p, "events_*")))
                if os.path.isfile(f)
            )
        else:
            files.append(p)
    return files


@dataclass
class GroupStats:
    jobs: int = 0
    job_spans: list = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_task_s: dict = field(default_factory=lambda: defaultdict(list))

    def stage_skew(self, min_tasks: int) -> float | None:
        """Largest max/median task time over stages with >= min_tasks."""
        ratios = []
        for times in self.stage_task_s.values():
            if len(times) >= min_tasks:
                med = statistics.median(times)
                if med > 0:
                    ratios.append(max(times) / med)
        return max(ratios) if ratios else None


def read_event_log(log_dir: Path) -> dict[str, GroupStats]:
    """Per job group statistics from the Spark event log."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path, errors="replace") as fh:
            for line in fh:
                kind = line[10:60]
                if "JobStart" in kind or "JobEnd" in kind or "StageSubmitted" in kind or "TaskEnd" in kind:
                    ev = json.loads(line)
                else:
                    continue
                name = ev["Event"]
                if name == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif name == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        stats[job_group[jid]].job_spans.append(
                            (job_start[jid], ev["Completion Time"] / 1e3)
                        )
                elif name == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif name == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    s = stats[group]
                    s.tasks += 1
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    s.task_s += run_s
                    s.gc_s += m.get("JVM GC Time", 0) / 1e3
                    s.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    s.stage_task_s[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(run_s)
    return stats
