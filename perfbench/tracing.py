"""Spans, Spark job groups, event-log task metrics and process memory.

Spans are recorded from the benchmark's side of each call into a layer
(the package is not instrumented). Each span tags the Spark jobs it
starts with a job group ``<run_id>/<layer>``, so task metrics read back
from the event log can be charged to the layer that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[str]
    run_id: str
    group: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark`` may be None for driver-only
    spans (the kernel sampler)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: List[Span] = []
        self._stack: List[str] = []
        self.run_id = ""
        # per run id: counters read after the traced job's timed region
        self.counts: Dict[str, dict] = {}

    def _set_group(self, group: Optional[str]) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{name}"
        self._stack.append(name)
        self._set_group(group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"{self.run_id}/{parent}" if parent else None)
            self.spans.append(Span(name, start, end, parent, self.run_id, group))

    def of(self, name: str, run_id: Optional[str] = None) -> List[Span]:
        return [
            s for s in self.spans
            if s.name == name and (run_id is None or s.run_id == run_id)
        ]

    def self_seconds(self, name: str, run_id: str) -> float:
        """Span duration minus the part its child spans cover (children
        of one span never overlap: the job is single-threaded)."""
        total = 0.0
        for span in self.of(name, run_id):
            children = [
                s for s in self.spans
                if s.run_id == run_id and s.parent == name
                and s.start >= span.start and s.end <= span.end
            ]
            total += span.seconds - sum(c.seconds for c in children)
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


@dataclass
class GroupMetrics:
    tasks: int = 0
    run_s: float = 0.0
    task_run_s: tuple = ()
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    @property
    def skew(self) -> float:
        if not self.task_run_s:
            return 0.0
        median = statistics.median(self.task_run_s)
        return max(self.task_run_s) / median if median > 0 else 0.0


def read_event_log(log_dir: str) -> Dict[str, GroupMetrics]:
    """Task metrics per job group from the JSON event log(s) in
    ``log_dir`` (read after the SparkContext stopped, so the log is
    complete)."""
    stage_group: Dict[int, str] = {}
    groups: Dict[str, GroupMetrics] = {}
    runs: Dict[str, list] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for stage_id in event.get("Stage IDs", []):
                            stage_group.setdefault(stage_id, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(event.get("Stage ID"))
                    metrics = event.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    g = groups.setdefault(group, GroupMetrics())
                    run_s = metrics.get("Executor Run Time", 0) / 1000.0
                    g.tasks += 1
                    g.run_s += run_s
                    runs.setdefault(group, []).append(run_s)
                    g.shuffle_write_bytes += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    g.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
                    g.output_bytes += metrics.get("Output Metrics", {}).get("Bytes Written", 0)
    for group, values in runs.items():
        groups[group].task_run_s = tuple(values)
    return groups


def _children(pid: int) -> Dict[int, List[int]]:
    tree: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _tree(root_pid: int) -> List[int]:
    """``root_pid`` and all its descendants."""
    tree = _children(root_pid)
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        out.append(pid)
    return out


def reset_peak_rss(root_pid: int) -> None:
    """Reset VmHWM to the current RSS over ``root_pid`` and its
    descendants, so a later ``peak_rss_mb`` covers only what ran since."""
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # process exited while listing
            continue


def peak_rss_mb(root_pid: int) -> tuple:
    """(sum, {pid: MB}) of VmHWM (peak resident set) over ``root_pid``
    (the JVM) and all its descendants (the Python daemon and workers)."""
    by_pid = {}
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        by_pid[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return sum(by_pid.values()), by_pid
