"""Measurement primitives: the percentile rule, spans with self time,
open-loop latency arithmetic, /proc memory sampling and Spark status-store
counters. Everything except the last two is pure Python, so the
benchmark's own tests can check it on hand-built inputs."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# percentiles considered for the tail figure, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND of ``n``
    samples strictly beyond its rank; None when even the median has
    fewer than that behind it (n < 20)."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def timing_summary(values: list[float]) -> dict:
    """Median plus the highest supported tail percentile. With too few
    samples for any tail, the tail falls back to the median and says
    so in ``tail_pct``."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail": percentile(values, p) if p is not None else statistics.median(values),
        "tail_pct": f"p{p:g}" if p is not None else "p50 (n<20: no tail supported)",
    }


def open_loop_latencies(due: list[float], done: list[float | None]) -> list[float]:
    """Per-drop latency timed from when the drop was due, not when the
    generator got round to writing it, so a stall that delays later
    drops is charged to them. Drops never committed are left out here
    and counted by ``backlog``."""
    return [d1 - d0 for d0, d1 in zip(due, done) if d1 is not None]


def backlog(landed: list[float | None], done: list[float | None], at: float) -> int:
    """Drops landed by ``at`` but not committed by then."""
    return sum(
        1 for l, d in zip(landed, done)
        if l is not None and l <= at and (d is None or d > at)
    )


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of its interval that child spans cover
    (overlapping children are counted once)."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.name and c is not span
    ]
    return span.dur - _covered([k for k in kids if k[1] > k[0]])


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self.run_id)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            self.spans.append(s)

    def self_s(self, name: str) -> float:
        return sum(self_time(s, self.spans) for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id,
                    "self_s": self_time(s, self.spans),
                }) + "\n")


# --- /proc sampling ---------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split between the processes that map it. PySpark workers are forked
    from one daemon, so summing their plain RSS would count the pages
    they share once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed PSS of every descendant of this process (the driver
    JVM and the PySpark daemon and workers it forks), sampled from
    /proc on a background thread while the context is open."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(pss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False


# --- Spark status store -----------------------------------------------

def stage_counters(spark, job_ids: list[int]) -> dict:
    """Sum the status store's stage metrics over the given jobs, plus
    the max/median task-run-time ratio of the last stage that read a
    shuffle (the stage right after the exchange)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "tasks": 0, "failed_tasks": 0}
    skews = []
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # stage never ran (skipped): nothing to count
            continue
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        summ = store.taskSummary(sid, st.attemptId(), q)
        if summ.isDefined() and st.numTasks() > 1 and st.shuffleReadBytes() > 0:
            rt = summ.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            skews.append((sid, mx / med if med > 0 else 1.0))
    out["skew_after_exchange"] = skews[-1][1] if skews else 1.0
    return out
