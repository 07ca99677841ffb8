"""Measurement probes: spans, Spark stage counters, process memory and machine speed.

* ``Tracer`` keeps spans in memory (name, start, end, parent, operation
  id) and gives every span that wraps Spark actions its own job group,
  so the status store can later attribute stages to it.
* ``stage_counters`` reads a job group's stages from Spark's own status
  store (works with the UI disabled) — read-only, after the fact.
* ``MemSampler`` polls /proc for the driver, its JVM child and the
  Python workers, and keeps the peak of their summed proportional set
  sizes.
* ``spark_probe`` times a tiny Spark job that calls no engine code: how
  fast the shared machine runs Spark jobs at that moment.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "group")

    def __init__(self, name, start, parent, op, group):
        self.name, self.start, self.end = name, start, None
        self.parent, self.op, self.group = parent, op, group

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine's layers.  Disabled, it only
    runs the body; enabled, it also sets a per-span Spark job group."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc, self.enabled = sc, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        group = f"pb{self._n}:{name}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        s = Span(name, 0.0, parent, op or (parent.op if parent else name), group)
        self.spans.append(s)
        self._stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - s.end)

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent is span)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def stage_counters(sc, groups: list[str], wall_s: float, cores: int) -> dict:
    """Summed counters over every stage of the jobs in ``groups``:
    tasks, failed_tasks, executor_run_s, executor_cpu_s,
    shuffle_write_bytes, slot_util (sum of task run time / (cores x
    wall)) and task_skew (longest / median task duration)."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    out = dict(tasks=0, failed_tasks=0, executor_run_s=0.0, executor_cpu_s=0.0, shuffle_write_bytes=0)
    skew = []
    seen = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never gets an attempt
                    continue
                if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                durs = []
                it = store.taskList(sid, sd.attemptId(), 100_000).iterator()
                while it.hasNext():
                    d = it.next().duration()
                    if d.isDefined():
                        durs.append(d.get())
                if len(durs) > 1 and statistics.median(durs) > 0:
                    skew.append(max(durs) / statistics.median(durs))
    out["slot_util"] = out["executor_run_s"] / (cores * wall_s) if wall_s > 0 else 0.0
    out["task_skew"] = max(skew) if skew else 1.0
    return out


def _parents() -> dict[int, int]:
    """pid -> parent pid of every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of ``root`` and all its descendants
    (driver -> JVM -> Python worker daemon -> workers).  Summed RSS would
    count the pages forked workers share with their daemon once per
    worker, so it would jump with the number of idle workers alive."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    todo, total = [root], 0
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo += kids.get(p, [])
    return total / 1024.0


class MemSampler:
    """Background thread sampling the process tree's PSS every
    ``interval`` seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler", daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))


def _echo(batches):
    yield from batches


def spark_probe(spark, nproc: int) -> float:
    """Wall time of one tiny Spark job that passes a row per core through
    a Python worker: the per-job cost every operation pays, with no
    engine code."""
    t0 = time.perf_counter()
    spark.range(0, nproc, 1, nproc).mapInArrow(_echo, "id long").collect()
    return time.perf_counter() - t0
