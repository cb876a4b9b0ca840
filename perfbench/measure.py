"""Measurement helpers: spans and self time, the Spark event-log and
streaming-progress parsers, the open-loop file mover and process memory.
Pure functions except `Tracer`, `OpenLoop` and the /proc readers;
perfbench/tests covers each of them."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans in memory. With `spark` set, each span also tags the
    Spark jobs it submits (job group = span id), so the event log can
    attribute task time to spans. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.spark is not None:
                if self._stack:
                    self.spark.sparkContext.setJobGroup(
                        f"span-{self._stack[-1]}", self.spans[self._stack[-1]].name
                    )
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def summary(self) -> dict:
        """Per span name: count, total seconds and total self seconds."""
        st = self_times(self.spans)
        out: dict = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += st[s.sid]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class EventLogSummary:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_max_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)
    #: executor run time per job group (a Tracer span id), in seconds
    task_s_by_group: dict = field(default_factory=dict)


def parse_event_log(
    lines, t_lo: float = 0.0, t_hi: float = math.inf
) -> EventLogSummary:
    """Summarise the jobs submitted within [t_lo, t_hi] (epoch seconds) and
    their tasks. `lines` yields the log's JSON lines."""
    out = EventLogSummary()
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            if t_lo <= t <= t_hi:
                job_start[ev["Job ID"]] = t
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                out.jobs += 1
                out.job_intervals.append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_group and "Submission Time" in info:
                out.stages += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            out.tasks += 1
            out.task_s += run_s
            out.task_max_s = max(out.task_max_s, run_s)
            group = stage_group[ev["Stage ID"]]
            out.task_s_by_group[group] = out.task_s_by_group.get(group, 0.0) + run_s
            out.gc_s += m.get("JVM GC Time", 0) / 1000.0
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


def driver_gap(job_intervals: list, t_lo: float, t_hi: float) -> float:
    """Wall time in [t_lo, t_hi] during which no Spark job was running."""
    return (t_hi - t_lo) - covered(job_intervals, t_lo, t_hi)


def read_event_log(log_dir: str) -> list[str]:
    """Lines of the newest finished application log in `log_dir`."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {log_dir}")
    with open(max(logs, key=os.path.getmtime)) as f:
        return f.readlines()


# --------------------------------------------------------------------------
# Structured Streaming
# --------------------------------------------------------------------------


def stream_progress(progress: list[dict]) -> dict:
    """Summarise a query's `recentProgress` (dicts as Spark's JSON) over the
    micro-batches that read input: their count, mean rows, median phase
    durations in seconds, and the largest state store seen."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(p: dict, *keys: str) -> float:
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys) / 1000.0

    def state(p: dict, key: str) -> int:
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    def med(values: list[float]) -> float:
        return statistics.median(values) if values else 0.0

    return {
        "batches": len(busy),
        "rows_per_batch": sum(p["numInputRows"] for p in busy) / len(busy) if busy else 0.0,
        "trigger_s": med([dur(p, "triggerExecution") for p in busy]),
        "add_batch_s": med([dur(p, "addBatch") for p in busy]),
        "commit_s": med([dur(p, "walCommit", "commitOffsets") for p in busy]),
        "offset_s": med([dur(p, "latestOffset") for p in busy]),
        "state_rows": max((state(p, "numRowsTotal") for p in busy), default=0),
        "state_bytes": max((state(p, "memoryUsedBytes") for p in busy), default=0),
        "state_commit_s": med([state(p, "commitTimeMs") / 1000.0 for p in busy]),
    }


class OpenLoop(threading.Thread):
    """Renames pre-built files into `dest` on a fixed schedule, whatever the
    consumer does: `schedule` is a list of (seconds after start, [paths]).
    `moved` gets one (due, done) epoch pair per schedule entry."""

    def __init__(self, schedule: list[tuple[float, list[str]]], dest: str):
        super().__init__(daemon=True)
        self.schedule = schedule
        self.dest = dest
        self.t0 = 0.0
        self.moved: list[tuple[float, float]] = []

    def run(self) -> None:
        self.t0 = time.time()
        for offset, paths in self.schedule:
            due = self.t0 + offset
            time.sleep(max(0.0, due - time.time()))
            for p in paths:
                os.rename(p, os.path.join(self.dest, os.path.basename(p)))
            self.moved.append((due, time.time()))


def late_max(moved: list[tuple[float, float]]) -> float:
    """Largest delay of a move past its due time."""
    return max((done - due for due, done in moved), default=0.0)


def tail_percentile(values: list[float], candidates=(99, 95, 90)) -> tuple[int, float]:
    """The highest of `candidates` with at least ten samples beyond it, and
    its value; (50, median) when none qualifies."""
    for p in sorted(candidates, reverse=True):
        if len(values) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100)[p - 1]
    return 50, statistics.median(values)


def publish_latencies(
    first_file: dict[str, int], due: list[float], published: dict[str, list[float]]
) -> dict[str, float]:
    """Per published key: its first publish time minus the due time of the
    file that first carried it."""
    return {
        k: min(published[k]) - due[f]
        for k, f in first_file.items() if published.get(k)
    }


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """`pid` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set sizes (VmHWM) of `pid` and its live
    descendants, in MiB — an upper bound on their combined peak."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
