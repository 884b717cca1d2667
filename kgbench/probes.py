"""Measurement helpers the benchmark wraps around the program.

Nothing here changes what the program computes: spans are recorded
around the benchmark's own calls, Spark counters are read afterwards
from the driver's status store, host CPU shares from ``/proc/stat``,
and memory from ``/proc/<pid>/status`` of the driver JVM and its
Python workers.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional


# ---------------------------------------------------------------------------
# host CPU shares
# ---------------------------------------------------------------------------
def cpu_snap() -> List[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (clock ticks)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: List[int], after: List[int]) -> Dict[str, float]:
    """Share of all CPU time between two snapshots that was neither
    user nor idle nor iowait (system + irq + steal: on a VM whose memory
    is backed lazily by the host this is where host stalls land), and
    the steal share alone. Recorded beside every op, never used to drop
    one."""
    d = [a - b for a, b in zip(after, before)]
    tot = sum(d) or 1
    return {
        "nonguest_frac": (d[2] + d[5] + d[6] + d[7]) / tot,
        "steal_frac": d[7] / tot,
    }


# ---------------------------------------------------------------------------
# driver JVM + Python worker memory
# ---------------------------------------------------------------------------
def _children(pid: int) -> List[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants (the driver
    JVM forks the Python worker daemon, which forks the workers)."""
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the JVM process tree's RSS on a background thread while
    ops run; ``peak_mb`` is the largest sample."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


def jvm_pid(spark) -> int:
    """PID of the driver JVM the PySpark gateway launched."""
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Spark counters from the driver's status store
# ---------------------------------------------------------------------------
@dataclass
class JobInfo:
    job_id: int
    group: Optional[str]
    stage_ids: List[int]
    start_ms: int
    end_ms: int


@dataclass
class StageInfo:
    stage_id: int
    num_tasks: int
    run_ms: int
    shuffle_write: int
    spilled: int


class SparkCounters:
    """Reads finished jobs and stages out of the driver's status store
    (works with the UI disabled). Reads are made between ops, never
    inside a timed one."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        """Id of the newest job submitted so far (-1 before the first).
        Ids are dense, and jobs of every thread and job group count,
        including those a streaming query submits."""
        # DAGScheduler.nextJobId: the next id to hand out
        return int(self.sc._jsc.sc().dagScheduler().nextJobId()) - 1

    def jobs_after(self, lo: int) -> List[JobInfo]:
        out = []
        for jid in range(lo + 1, self.max_job_id() + 1):
            try:
                jd = self.store.job(jid)
            except Exception:  # py4j: evicted from the store
                continue
            group = jd.jobGroup()
            sub, done = jd.submissionTime(), jd.completionTime()
            stages = jd.stageIds().mkString(",")
            out.append(
                JobInfo(
                    job_id=jid,
                    group=group.get() if group.isDefined() else None,
                    stage_ids=[int(s) for s in stages.split(",") if s],
                    start_ms=sub.get().getTime() if sub.isDefined() else 0,
                    end_ms=done.get().getTime() if done.isDefined() else 0,
                )
            )
        return out

    def stages(self, stage_ids) -> Dict[int, StageInfo]:
        """Last attempt of each stage that ran (skipped stages, whose
        output was reused from an earlier job, are left out)."""
        out = {}
        for sid in sorted(set(stage_ids)):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out[sid] = StageInfo(
                stage_id=sid,
                num_tasks=sd.numTasks(),
                run_ms=sd.executorRunTime(),
                shuffle_write=sd.shuffleWriteBytes(),
                spilled=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            )
        return out


@contextmanager
def job_group(sc, group: Optional[str]):
    """Tag the Spark jobs this Python thread submits with ``group``
    (pinned-thread mode: a local property of this thread only)."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: Optional[int]
    group: Optional[str]
    start: float
    end: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A span has a name, start, end, parent
    span and op id; spans of one op share the op id. Spans opened in a
    worker thread pass their parent explicitly. A span that sets
    ``group`` tags its thread's Spark jobs so concurrent spans can be
    told apart; its children inherit the tag. Spans are written out
    once, by :meth:`dump`, when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> List[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op_id: int, parent: Optional[Span] = None,
             group: bool = False):
        st = self._stack()
        parent = parent or (st[-1] if st else None)
        with self._lock:
            sid = next(self._ids)
        tag = f"kgbench-{op_id}-{sid}" if group else (parent.group if parent else None)
        sp = Span(sid, name, op_id, parent.span_id if parent else None, tag, time.time())
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        try:
            with job_group(self.sc, tag if group else None):
                yield sp
        finally:
            sp.end = time.time()
            st.pop()

    def of_op(self, op_id: int) -> List[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "op_id": s.op_id,
                    "parent": s.parent, "group": s.group, "start": s.start,
                    "end": s.end, "counts": s.counts,
                }) + "\n")


def span_jobs(span: Span, jobs: List[JobInfo]) -> List[JobInfo]:
    """Jobs submitted inside a span: by time window, and by job group
    when the span carries one (concurrent spans share a time window)."""
    lo, hi = span.start * 1000 - 1, span.end * 1000 + 1
    return [
        j for j in jobs
        if lo <= j.start_ms <= hi and (span.group is None or j.group == span.group)
    ]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple:
    """Highest order statistic with at least ten samples above it, and
    the sample count. With ten or fewer samples no such statistic
    exists and the maximum is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    return float(xs[n - 11] if n >= 11 else xs[-1]), n


def dir_stats(path: str) -> tuple:
    """(bytes, parquet part files) under a directory."""
    size, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                size += os.path.getsize(p)
            except OSError:
                continue
            if n.startswith("part-"):
                files += 1
    return size, files
