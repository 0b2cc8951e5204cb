"""In-memory spans, a process-tree RSS sampler and Spark event-log reads.

Spans are recorded by the benchmark around its own calls into each
layer (never inside the engine): name, start, end, parent and run id,
kept in memory and written once when the run ends. The event log is
switched on only in a traced run; each call is labelled with
``setJobGroup`` so its jobs, stages and tasks can be summed per label.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; always returns the timed span so
    the caller can read its duration with tracing off."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None, attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children of one span never overlap here: the
        benchmark is a single closed-loop client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.seconds - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "run_id": self.run_id,
                        "id": i,
                        "name": s.name,
                        "start_s": round(s.start - t0, 6),
                        "end_s": round(s.end - t0, 6),
                        "parent": s.parent,
                        **s.attrs,
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
                indent=1,
            )


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and its Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = 0

    @staticmethod
    def descendants() -> dict[int, list[str]]:
        """pid -> /proc/<pid>/stat fields (after the command name) for
        every descendant of this process."""
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stats[int(d)] = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
        children: dict[int, list[int]] = defaultdict(list)
        for pid, fields in stats.items():
            children[int(fields[1])].append(pid)
        out, todo = {}, list(children[os.getpid()])
        while todo:
            pid = todo.pop()
            todo.extend(children[pid])
            out[pid] = stats[pid]
        return out

    def _descendants_rss(self) -> int:
        # field 22 of stat (index 21 after the name) is rss in pages
        return sum(int(f[21]) for f in self.descendants().values()) * self._page

    def cpu_seconds(self) -> float:
        """User plus system CPU time of every descendant so far."""
        tick = os.sysconf("SC_CLK_TCK")
        return sum(int(f[11]) + int(f[12]) for f in self.descendants().values()) / tick

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._descendants_rss())


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
AGG_BUILD = "time in aggregation build"  # SQL metric of hash/object aggregates, ms
# the write command's node in a formatted physical plan names its path
_WRITE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,]+),")


@dataclass
class GroupStats:
    jobs: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_bytes_sent: int = 0
    agg_build_s: float = 0.0  # summed over tasks and aggregates
    max_task_s: float = 0.0
    task_skew: float = 1.0
    # largest share of one shuffle-reading stage's rows that a single
    # task read (1 / tasks when even): how far a hot key concentrates work
    hot_task_share: float = 0.0
    writes: dict[str, float] = field(default_factory=dict)  # output path -> seconds


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Sum task metrics per job group, and time each SQL write per
    (group, output path)."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_rows: dict[int, list[int]] = defaultdict(list)  # shuffle rows read per task
    stage_wall: dict[int, float] = {}
    sql_path: dict[int, tuple[str, str]] = {}  # execution -> (group, path)
    sql_start: dict[int, float] = {}
    sql_end: dict[int, float] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    stats[group].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"], "-")
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    stage_tasks[e["Stage ID"]].append(dur)
                    rows = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                    if rows:
                        stage_rows[e["Stage ID"]].append(rows)
                    g = stats[group]
                    g.max_task_s = max(g.max_task_s, dur)
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            g.python_bytes_sent += int(acc.get("Update", 0))
                        elif acc.get("Name") == AGG_BUILD:
                            g.agg_build_s += int(acc.get("Update", 0)) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" in si and "Completion Time" in si:
                        stage_wall[si["Stage ID"]] = (
                            si["Completion Time"] - si["Submission Time"]
                        ) / 1000.0
                elif kind.endswith("SQLExecutionStart"):
                    write = _WRITE.search(e.get("physicalPlanDescription", ""))
                    if write:
                        ex = e["executionId"]
                        sql_path[ex] = (e.get("jobGroupId") or "-", write.group(1))
                        sql_start[ex] = e["time"] / 1000.0
                elif kind.endswith("SQLExecutionEnd"):
                    sql_end[e["executionId"]] = e["time"] / 1000.0
    # skew of the slowest stage in each group
    slowest: dict[str, tuple[float, int]] = {}
    for sid, wall in stage_wall.items():
        group = stage_group.get(sid, "-")
        if wall > slowest.get(group, (-1.0, -1))[0] and stage_tasks.get(sid):
            slowest[group] = (wall, sid)
    for group, (_, sid) in slowest.items():
        tasks = stage_tasks[sid]
        med = statistics.median(tasks)
        stats[group].task_skew = max(tasks) / med if med > 0 else 1.0
    for sid, rows in stage_rows.items():
        g = stats[stage_group.get(sid, "-")]
        g.hot_task_share = max(g.hot_task_share, max(rows) / sum(rows))
    for ex, (group, path) in sql_path.items():
        if ex in sql_end:
            writes = stats[group].writes
            writes[path] = writes.get(path, 0.0) + sql_end[ex] - sql_start[ex]
    return dict(stats)
