"""Measurement helpers that sit outside the engine: spans around calls,
Spark event-log totals per time window, process-tree memory and on-disk
state size.

Nothing here imports pyspark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Task accumulables summed per window, with their scale to seconds or
# bytes. The Python entries are the SQL metrics of the Arrow/pandas UDF
# operators (pythonTotalTime, pythonDataSent, pythonDataReceived in
# Spark 4.1); times are recorded in milliseconds.
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_total_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}
WINDOW_KEYS = (
    "jobs", "driver_gap_s", "executor_run_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "python_total_s",
    "python_bytes_sent", "python_bytes_received",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None


@dataclass
class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        yield
        if self.enabled:
            self.spans.append(Span(name, start, time.time(), parent))


@dataclass
class EventLog:
    """Jobs (submit, end, stage ids) and per-stage task-metric totals."""

    jobs: list[tuple[float, float, list[int]]]
    stages: dict[int, dict[str, float]]

    @classmethod
    def read(cls, path: str) -> "EventLog":
        """Parse an uncompressed, non-rolling Spark event log file."""
        starts: dict[int, tuple[float, list[int]]] = {}
        ends: dict[int, float] = {}
        stages: dict[int, dict[str, float]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = (
                        ev["Submission Time"] / 1000.0,
                        list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    # per-task updates, not the stage's accumulable
                    # values: a SQL metric's value is cumulative over
                    # every stage that ran its plan node
                    tot = stages.setdefault(ev["Stage ID"], {})
                    for acc in ev["Task Info"].get("Accumulables", []):
                        key = _ACCUMULABLES.get(acc.get("Name"))
                        if key is None or acc.get("Update") is None:
                            continue
                        name, scale = key
                        tot[name] = tot.get(name, 0.0) + float(acc["Update"]) * scale
        jobs = [
            (t0, ends.get(jid, t0), sids)
            for jid, (t0, sids) in sorted(starts.items())
        ]
        return cls(jobs, stages)

    def window(self, start: float, end: float) -> dict[str, float]:
        """Totals over the jobs submitted in [start, end]: job count,
        stage accumulables, and the driver gap — the part of the window
        no job covers, where the driver plans, collects or waits."""
        out = dict.fromkeys(WINDOW_KEYS, 0.0)
        covered: list[tuple[float, float]] = []
        for t0, t1, sids in self.jobs:
            if not start <= t0 <= end:
                continue
            out["jobs"] += 1
            covered.append((t0, min(t1, end)))
            for sid in sids:
                for k, v in self.stages.get(sid, {}).items():
                    out[k] += v
        out["driver_gap_s"] = max(end - start - _union_len(covered), 0.0)
        return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def find_event_log(event_dir: str) -> str:
    [name] = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    return os.path.join(event_dir, name)


# --------------------------------------------------------------- memory

def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of a process tree. Forked Python
    workers share most pages with their daemon; RSS would count those
    pages once per worker, PSS splits them."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc until
    ``stop``."""

    # the JVM rarely gives heap back within a run and the Python workers
    # live for the whole run, so a coarse interval still catches the peak;
    # each sample walks /proc under the driver's interpreter lock
    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()
        return False

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def sample(self) -> None:
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)


# ---------------------------------------------------------- state store

_EPOCH_DIR = re.compile(r"^epoch=\d+$")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def count_epoch_dirs(state_dir: str) -> int:
    if not os.path.isdir(state_dir):
        return 0
    return sum(
        1
        for store in os.listdir(state_dir)
        if os.path.isdir(os.path.join(state_dir, store))
        for d in os.listdir(os.path.join(state_dir, store))
        if _EPOCH_DIR.match(d)
    )
